package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.storage.{DeletionVectors, SnapshotCommit}
import graft.streaming.SnapshotSink

import scala.jdk.CollectionConverters._

/** The snapshot-chain streaming source ([[graft.streaming
  * .GraftTableSource]]) — readStream.table parity over SnapshotCommit:
  * version-offset micro-batches, exactly-once across restarts (WAL
  * replay served from the source's durable per-version manifests, not
  * from prunable version directories), loud failure on change commits,
  * and the skipChangeCommits escape hatch.
  */
class GraftTableSourceSpec extends SparkSpec {

  private def drain(table: String, ckpt: String,
      skipChangeCommits: Boolean = false)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val reader = spark.readStream.format("graft-table")
      .option("table", table)
    val q = (if (skipChangeCommits)
        reader.option("skipChangeCommits", "true") else reader)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) => onBatch(b, id) }
      .start()
    q.awaitTermination()
  }

  test("appended versions stream exactly once across restarts; an idle " +
      "restart emits nothing") {
    val tbl = "gts_stream_tbl"
    SnapshotCommit.destroy(spark, tbl)
    val ckpt = SparkSpec.tempDir("gts_ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def collect(b: DataFrame, id: Long): Unit =
      b.select("id").collect().foreach(r => seen.add(r.getLong(0)))

    SnapshotSink.append(spark, tbl, 0L,
      spark.range(0, 10).select(col("id"), (col("id") * 2).as("v")))
    drain(tbl, ckpt)(collect)
    assert(seen.asScala.toSet === (0L until 10L).toSet,
      "the initial snapshot is the first batch")

    // Two MORE appends land while the stream is down; the restart must
    // serve exactly the appended rows (never re-serving batch 0).
    SnapshotSink.append(spark, tbl, 1L,
      spark.range(10, 20).select(col("id"), (col("id") * 2).as("v")))
    SnapshotSink.append(spark, tbl, 2L,
      spark.range(20, 30).select(col("id"), (col("id") * 2).as("v")))
    seen.clear()
    drain(tbl, ckpt)(collect)
    assert(seen.asScala.toSet === (10L until 30L).toSet,
      "a restart serves exactly the versions appended while down")

    // Idle restart: no new version, no batch content.
    seen.clear()
    drain(tbl, ckpt)(collect)
    assert(seen.isEmpty, "no new version -> nothing streams")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("WAL replay re-serves the identical batch from the manifests " +
      "(crash between WAL write and commit)") {
    val tbl = "gts_replay_tbl"
    SnapshotCommit.destroy(spark, tbl)
    val ckpt = SparkSpec.tempDir("gts_ckpt_replay").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def collect(b: DataFrame, id: Long): Unit =
      b.select("id").collect().foreach(r => seen.add(r.getLong(0)))
    SnapshotSink.append(spark, tbl, 0L,
      spark.range(0, 10).select(col("id"), (col("id") * 2).as("v")))
    drain(tbl, ckpt)(collect)
    SnapshotSink.append(spark, tbl, 1L,
      spark.range(10, 20).select(col("id"), (col("id") * 2).as("v")))
    seen.clear()
    drain(tbl, ckpt)(collect)
    assert(seen.asScala.toSet === (10L until 20L).toSet)
    // Simulate the crash: the WAL (offsets/) retains the last entry but
    // its commit marker is deleted — on restart MicroBatchExecution
    // replays getBatch for that offset, which must come verbatim from
    // the durable manifests even though more versions landed since.
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent,
      s".${commits.last.getName}.crc") // local-FS checksum shadow
    assert(commits.last.delete())
    if (crc.exists()) crc.delete()
    SnapshotSink.append(spark, tbl, 2L,
      spark.range(20, 25).select(col("id"), (col("id") * 2).as("v")))
    seen.clear()
    drain(tbl, ckpt)(collect)
    // The replayed batch (10..19) arrives AGAIN — at-least-once at the
    // sink boundary, which an idempotent sink (SnapshotSink, MERGE)
    // collapses — followed by the new version's rows.
    assert(seen.asScala.toSet === (10L until 25L).toSet,
      s"replayed batch + new version expected, got ${seen.asScala.toSet}")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("maxFilesPerTrigger chunks a backlog into bounded batches and " +
      "resumes mid-diff across a restart") {
    val tbl = "gts_chunk_tbl"
    SnapshotCommit.destroy(spark, tbl)
    val ckpt = SparkSpec.tempDir("gts_ckpt_chunk").toString
    // Initial snapshot of 6 files, then a 4-file append while down: a
    // maxFilesPerTrigger=2 stream must drain both in <=2-file batches.
    SnapshotSink.append(spark, tbl, 0L,
      spark.range(0, 60).select(col("id"), (col("id") * 2).as("v"))
        .repartition(6))
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    // Batch size measured in ROWS (10 rows/file by construction):
    // foreachBatch re-roots the frame on its computed RDD, so
    // inputFiles is not observable here.
    def collect(b: DataFrame, id: Long): Unit = {
      val rows = b.select("id").collect().map(_.getLong(0))
      sizes.add(rows.length.toLong)
      rows.foreach(r => seen.add(r))
    }
    def drainChunked(): Unit = {
      val q = spark.readStream.format("graft-table")
        .option("table", tbl)
        .option("maxFilesPerTrigger", "2")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) => collect(b, id) }
        .start()
      q.awaitTermination()
    }
    drainChunked()
    assert(seen.asScala.toSet === (0L until 60L).toSet,
      "the chunked initial snapshot must still deliver every row")
    assert(sizes.asScala.forall(_ <= 25),
      s"every batch must respect maxFilesPerTrigger (<=2 of 6 round-" +
        s"robin files of ~10 rows), got $sizes")
    assert(sizes.asScala.count(_ > 0) >= 3,
      s"6 files at 2/trigger should take >=3 batches, got $sizes")
    // Backlog append while down; the restart resumes bounded.
    SnapshotSink.append(spark, tbl, 1L,
      spark.range(60, 100).select(col("id"), (col("id") * 2).as("v"))
        .repartition(4))
    seen.clear(); sizes.clear()
    drainChunked()
    assert(seen.asScala.toSet === (60L until 100L).toSet)
    assert(sizes.asScala.forall(_ <= 25),
      s"backlog batches bounded: $sizes")
    assert(sizes.asScala.count(_ > 0) >= 2,
      s"4 files at 2/trigger should take >=2 batches, got $sizes")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("graft-table SINK: writeStream commits each micro-batch as one " +
      "atomic version, exactly-once, round-tripping through the source") {
    val src = "gts_sink_src"
    val dst = "gts_sink_dst"
    SnapshotCommit.destroy(spark, src)
    SnapshotCommit.destroy(spark, dst)
    val ckpt = SparkSpec.tempDir("gts_ckpt_sink").toString
    def pump(): Unit = {
      val q = spark.readStream.format("graft-table")
        .option("table", src).load()
        .writeStream.format("graft-table")
        .option("table", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    SnapshotSink.append(spark, src, 0L,
      spark.range(0, 20).select(col("id"), (col("id") * 2).as("v")))
    pump()
    assert(spark.table(dst).count() === 20)
    SnapshotSink.append(spark, src, 1L,
      spark.range(20, 30).select(col("id"), (col("id") * 2).as("v")))
    pump()
    // The stream committed from ITS session (a cloned SessionState):
    // this session aligns its catalog/relation cache via register —
    // the cross-session read contract every entry follows.
    SnapshotCommit.register(spark, dst)
    val out = spark.table(dst)
    assert(out.count() === 30)
    assert(out.select("id").collect().map(_.getLong(0)).toSet ===
      (0L until 30L).toSet)
    // An idle pump commits nothing: exactly-once, no duplicate version.
    val vBefore = SnapshotCommit.currentVersion(spark, dst)
    pump()
    assert(spark.table(dst).count() === 30)
    assert(SnapshotCommit.currentVersion(spark, dst) === vBefore ||
      spark.table(dst).count() === 30)
    // Misuse fails loudly.
    intercept[Exception] {
      spark.readStream.format("graft-table").option("table", src).load()
        .writeStream.format("graft-table").option("table", dst)
        .outputMode("complete")
        .option("checkpointLocation",
          SparkSpec.tempDir("gts_bad").toString)
        .start()
    }
    SnapshotCommit.destroy(spark, src)
    SnapshotCommit.destroy(spark, dst)
  }

  test("change commits fail loudly; skipChangeCommits streams the " +
      "appends and ignores removals/DV changes") {
    val tbl = "gts_change_tbl"
    SnapshotCommit.destroy(spark, tbl)
    val ckpt = SparkSpec.tempDir("gts_ckpt_chg").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def collect(b: DataFrame, id: Long): Unit =
      b.select("id").collect().foreach(r => seen.add(r.getLong(0)))
    SnapshotSink.append(spark, tbl, 0L,
      spark.range(0, 10).select(col("id"), (col("id") * 2).as("v")))
    drain(tbl, ckpt)(collect)
    // A DELETE (DV sidecar change) is not an append: the default read
    // must fail loudly, Delta's semantics.
    DeletionVectors.delete(spark, tbl, col("id") === 3)
    val e = intercept[Exception] { drain(tbl, ckpt)(collect) }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: causes(t.getCause)
    assert(causes(e).exists(m => m != null &&
      m.contains("deletion-vector sidecar changed")),
      s"wanted the DV-change failure, got: ${causes(e)}")
    // skipChangeCommits from a fresh checkpoint: the initial snapshot
    // is the table's live STATE (the DV-deleted id=3 never streams —
    // Delta's masked-snapshot semantics), and a later compaction
    // (removes + re-adds files) is skipped silently while a subsequent
    // append still streams.
    val ckpt2 = SparkSpec.tempDir("gts_ckpt_skip").toString
    seen.clear()
    drain(tbl, ckpt2, skipChangeCommits = true)(collect)
    assert(seen.asScala.toSet === (0L until 10L).toSet - 3L,
      "the initial snapshot must mask pre-existing DV deletes")
    DeletionVectors.compact(spark, tbl) // folds the DV: a change commit
    SnapshotSink.append(spark, tbl, 99L,
      spark.range(100, 105).select(col("id"), (col("id") * 2).as("v")))
    seen.clear()
    drain(tbl, ckpt2, skipChangeCommits = true)(collect)
    // Delta-exact whole-commit skip (r17): the compaction's rewritten
    // files do NOT re-stream — only the genuine append arrives.
    assert(seen.asScala.toSet === (100L until 105L).toSet,
      s"skipChangeCommits must skip the change commit's added files " +
        s"too (Delta semantics), got ${seen.asScala.toSet}")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("the driver-side DV fingerprint equals the Spark aggregate that " +
      "earlier manifests recorded, so old checkpoints restart clean") {
    import org.apache.hadoop.fs.Path
    import graft.ext.GraftSqlParser
    import graft.streaming.GraftTableSource
    val tbl = "gts_fingerprint_tbl"
    SnapshotCommit.destroy(spark, tbl)
    // The fingerprint as manifests recorded it before it moved to the
    // driver: one Spark aggregate over the version's `_dv` directory.
    def sparkFingerprint(dv: Path): String = {
      val r = spark.read.parquet(dv.toString).filter(col("p") >= 0)
        .agg(count(lit(1)),
          expr("bit_xor(xxhash64(concat_ws(':', f, p, v)))"))
        .head()
      if (r.getLong(0) == 0L) "-"
      else s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
    }
    def dv() = new Path(SnapshotCommit.currentLocation(spark, tbl).get, "_dv")
    def check(): String = {
      val fp = GraftTableSource.dvFingerprint(spark, dv())
      assert(fp === sparkFingerprint(dv()))
      fp
    }
    SnapshotSink.append(spark, tbl, 0L,
      spark.range(0, 100).select(col("id"), (col("id") * 2).as("v")))
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl VALUES (100, 200)")
    assert(check() === "-", "sentinels alone are no masking state")
    val d1 = DeletionVectors.delete(spark, tbl, col("id") < 30)
    // A re-deleting DELETE whose sidecar Spark wrote as several part
    // files, as older tables carry: the old sidecar, every 4th id's
    // coordinates and the version's stamp rows.
    val cur = SnapshotCommit.currentLocation(spark, tbl).get
    val v2 = d1 + 1
    SnapshotCommit.commit(spark, tbl, operation = "DELETE") { dir =>
      val coords = spark.table(tbl).filter(col("id") % 4 === 0)
        .select(substring_index(col("_metadata.file_path"), "/", -1)
          .as("f"), col("_metadata.row_index").as("p"), lit(v2).as("v"))
      val stamp = spark.createDataFrame(Seq(("_hwm", -1L, v2),
        (s"${DeletionVectors.TsPrefix}${DeletionVectors.clockMs()}", -1L, v2),
        (s"${DeletionVectors.OpPrefix}DELETE", -1L, v2))).toDF("f", "p", "v")
      spark.read.parquet(new Path(cur, "_dv").toString)
        .unionByName(coords).unionByName(stamp).repartition(3)
        .write.parquet(new Path(dir, "_dv").toString)
      SnapshotCommit.carryData(spark, cur, new Path(dir))
    }
    assert(dv().getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dv()).count(_.getPath.getName.endsWith(".parquet")) > 1)
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl VALUES (101, 202)")
    // ids < 30, then every 4th id of 0..100 again (the raw table).
    assert(check().startsWith("56:"))
    // Folds ids < 30: their second entries go, ids 32..100 are rebased.
    DeletionVectors.vacuum(spark, tbl, d1)
    assert(check().startsWith("18:"))
    DeletionVectors.delete(spark, tbl, col("id") === 101)
    assert(check().startsWith("19:"))
    SnapshotCommit.destroy(spark, tbl)
  }

  test("a CHUNKED initial snapshot masks pre-existing DV deletes in " +
      "EVERY chunk, not just the first (r17 corruption fix)") {
    val tbl = "gts_chunkmask_tbl"
    SnapshotCommit.destroy(spark, tbl)
    // 6 files x 10 rows; the delete hits every file (id % 10 == 0), so
    // any unmasked chunk would resurrect at least one dead row.
    SnapshotSink.append(spark, tbl, 0L,
      spark.range(0, 60).select(col("id"), (col("id") * 2).as("v"))
        .repartition(6))
    DeletionVectors.delete(spark, tbl, col("id") % 10 === 0)
    val ckpt = SparkSpec.tempDir("gts_ckpt_chunkmask").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val batches = new java.util.concurrent.atomic.AtomicInteger()
    val q = spark.readStream.format("graft-table")
      .option("table", tbl)
      .option("maxFilesPerTrigger", "2")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("id").collect().map(_.getLong(0))
        if (rows.nonEmpty) batches.incrementAndGet()
        rows.foreach(seen.add)
      }
      .start()
    q.awaitTermination()
    assert(batches.get() >= 3,
      s"6 files at 2/trigger must chunk, got ${batches.get()} batches")
    assert(seen.asScala.toSet ===
      (0L until 60L).filterNot(_ % 10 == 0).toSet,
      "every chunk of the initial snapshot must serve the DV-masked " +
        s"state; got ${seen.asScala.toSet.toSeq.sorted}")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("an INTERMEDIATE change commit inside a catch-up span fails " +
      "loudly (default) and skips exactly (skipChangeCommits) — " +
      "endpoint-only diffing missed it (r17)") {
    val tbl = "gts_midchange_tbl"
    SnapshotCommit.destroy(spark, tbl)
    val ckpt = SparkSpec.tempDir("gts_ckpt_mid").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def collect(b: DataFrame, id: Long): Unit =
      b.select("id").collect().foreach(r => seen.add(r.getLong(0)))
    SnapshotSink.append(spark, tbl, 0L,
      spark.range(0, 20).select(col("id"), col("id").as("v")))
    drain(tbl, ckpt)(collect)
    // While the stream is down: an append (v2) then an UPDATE (v3)
    // whose touched-file rewrite removes ONLY v2's file and adds its
    // rewrite — the v1 -> v3 ENDPOINT diff therefore looks like a pure
    // append of the rewrite output (no removed basenames vs v1, no DV
    // change), the exact hole the transition walk closes.
    SnapshotCommit.register(spark, tbl)
    graft.ext.GraftSqlParser.sql(spark,
      s"INSERT INTO $tbl SELECT id, id AS v FROM range(20, 30)")
    graft.ext.GraftSqlParser.sql(spark,
      s"UPDATE $tbl SET v = v + 1000 WHERE id >= 20")
    seen.clear()
    val e = intercept[Exception] { drain(tbl, ckpt)(collect) }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: causes(t.getCause)
    assert(causes(e).exists(m => m != null && m.contains("removed")),
      s"the intermediate rewrite must fail the default stream, " +
        s"got: ${causes(e)}")
    // skipChangeCommits from the same checkpoint: the v2 append streams
    // its PRE-update rows from the retained v2 directory (Delta serves
    // the appended file, not the skipped rewrite), the rewrite's output
    // is skipped, and a later plain append still arrives.
    seen.clear()
    drain(tbl, ckpt, skipChangeCommits = true)(collect)
    assert(seen.asScala.toSet === (20L until 30L).toSet,
      s"the skipped span must serve exactly the genuine append, got " +
        s"${seen.asScala.toSet}")
    SnapshotCommit.register(spark, tbl)
    graft.ext.GraftSqlParser.sql(spark,
      s"INSERT INTO $tbl SELECT id, id AS v FROM range(100, 105)")
    seen.clear()
    drain(tbl, ckpt, skipChangeCommits = true)(collect)
    assert(seen.asScala.toSet === (100L until 105L).toSet)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("manifests are diff-encoded: steady-state appends write " +
      "O(appended files) bytes, with a periodic full base (r17)") {
    val tbl = "gts_diffchain_tbl"
    SnapshotCommit.destroy(spark, tbl)
    val ckpt = SparkSpec.tempDir("gts_ckpt_chain").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def collect(b: DataFrame, id: Long): Unit =
      b.select("id").collect().foreach(r => seen.add(r.getLong(0)))
    // A 40-file base, then 12 single-file appends each drained: the
    // per-version manifest must record the DIFF (one +name line), not
    // the 40+ basename listing.
    SnapshotSink.append(spark, tbl, 0L,
      spark.range(0, 400).select(col("id"), col("id").as("v"))
        .repartition(40))
    drain(tbl, ckpt)(collect)
    assert(seen.asScala.size === 400)
    for (k <- 1 to 12) {
      SnapshotSink.append(spark, tbl, k.toLong,
        spark.range(400L + k * 10, 410L + k * 10)
          .select(col("id"), col("id").as("v")).coalesce(1))
      seen.clear()
      drain(tbl, ckpt)(collect)
      assert(seen.asScala.toSet ===
        (400L + k * 10 until 410L + k * 10).toSet,
        s"append $k must stream exactly once")
    }
    val mdir = new java.io.File(ckpt, "sources/0/graft-versions")
    val manifests = mdir.listFiles()
      .filter(f => f.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(manifests.nonEmpty)
    val sizes = manifests.map(f => f.getName.toLong -> f.length()).toMap
    val diffs = sizes.values.filter(_ < 300)
    val bases = sizes.values.filter(_ >= 1000)
    assert(diffs.nonEmpty,
      s"single-file appends must write small diff manifests, got $sizes")
    assert(bases.nonEmpty,
      s"the chain must keep a full base for GC-safe resolution, " +
        s"got $sizes")
    assert(sizes.values.count(_ >= 1000) <= 3,
      s"steady-state appends must NOT all write full listings " +
        s"(O(file-count) manifests was the r16 watch-item): $sizes")
    // The chain still replays: an idle restart emits nothing and the
    // next append streams exactly once through the diff chain.
    seen.clear()
    drain(tbl, ckpt)(collect)
    assert(seen.isEmpty)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("a widening ALTER observed mid-stream fails loudly; a versioned " +
      "INSERT INTO streams as a plain append (r17)") {
    val tbl = "gts_alter_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    val ckpt = SparkSpec.tempDir("gts_ckpt_alter").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def collect(b: DataFrame, id: Long): Unit =
      b.select("id").collect().foreach(r => seen.add(r.getLong(0)))
    graft.ext.GraftSqlParser.sql(spark, s"CREATE TABLE $tbl AS " +
      "SELECT id, CAST(id * 2 AS BIGINT) AS v FROM range(0, 10)")
    drain(tbl, ckpt)(collect)
    assert(seen.asScala.toSet === (0L until 10L).toSet)
    // An INSERT INTO commit (which re-stamps the DV sidecar with
    // sentinel rows) is an APPEND to the stream — the content-based
    // DV fingerprint must not flag it as a change commit.
    graft.ext.GraftSqlParser.sql(spark, s"INSERT INTO $tbl " +
      "SELECT id, CAST(id * 2 AS BIGINT) AS v FROM range(10, 15)")
    seen.clear()
    drain(tbl, ckpt)(collect)
    assert(seen.asScala.toSet === (10L until 15L).toSet,
      "a versioned INSERT INTO must stream as a plain append")
    // A widening ALTER while a source instance is LIVE (its schema was
    // pinned at start): the next advance fails loudly instead of
    // silently dropping the new column from every future batch.
    val liveSrc = new graft.streaming.GraftTableSource(spark.sqlContext,
      SparkSpec.tempDir("gts_alter_meta").toString,
      tbl, skipChangeCommits = false, maxFilesPerTrigger = None)
    assert(liveSrc.getOffset.isDefined, "pre-alter advance works")
    graft.ext.GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl ADD COLUMNS (note STRING)")
    graft.ext.GraftSqlParser.sql(spark, s"INSERT INTO $tbl " +
      "SELECT id, CAST(id * 2 AS BIGINT) AS v, 'x' FROM range(15, 18)")
    val e = intercept[Exception] { liveSrc.getOffset }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: causes(t.getCause)
    assert(causes(e).exists(m => m != null && m.contains("evolved")),
      s"wanted the schema-evolution failure, got: ${causes(e)}")
    // A RESTART re-pins the widened schema and serves the new files —
    // Delta's "restart the stream to pick up the new schema".
    seen.clear()
    val wide = new java.util.concurrent.atomic.AtomicInteger()
    val q = spark.readStream.format("graft-table").option("table", tbl)
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (b.columns.contains("note")) wide.incrementAndGet()
        collect(b, 0L)
      }
      .start()
    q.awaitTermination()
    assert(seen.asScala.toSet === (15L until 18L).toSet,
      s"the restarted stream serves the post-alter append, got " +
        s"${seen.asScala.toSet}")
    assert(wide.get() > 0, "the restarted stream carries the new column")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("readChangeFeed streams the row-level change feed per version " +
      "across restarts; default start serves only future changes; " +
      "unanswerable spans fail the stream (r17)") {
    val tbl = "gts_cdc_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    graft.ext.GraftSqlParser.sql(spark, s"CREATE TABLE $tbl AS " +
      "SELECT id, CAST(id * 10 AS BIGINT) AS v FROM range(0, 20)")
    graft.ext.GraftSqlParser.sql(spark, s"ALTER TABLE $tbl SET " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, String, Long)]()
    def drainCdc(ckpt: String, startingVersion: Option[Long]): Unit = {
      val r0 = spark.readStream.format("graft-table")
        .option("table", tbl).option("readChangeFeed", "true")
      val q = startingVersion.map(v =>
          r0.option("startingVersion", v.toString)).getOrElse(r0)
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add((r.getLong(0), r.getLong(1),
            r.getString(2), r.getLong(3))))
          ()
        }
        .start()
      q.awaitTermination()
    }
    // v1: DELETE two rows; v2: INSERT a block — then the stream (with
    // startingVersion=0) replays both in its first batch.
    graft.ext.GraftSqlParser.sql(spark,
      s"DELETE FROM $tbl WHERE id = 3 OR id = 4")
    graft.ext.GraftSqlParser.sql(spark, s"INSERT INTO $tbl " +
      "SELECT id, CAST(id * 10 AS BIGINT) AS v FROM range(20, 23)")
    val ckpt = SparkSpec.tempDir("gts_cdc_ckpt").toString
    drainCdc(ckpt, Some(0L))
    assert(seen.asScala.toSet === Set(
      (3L, 30L, "delete", 1L), (4L, 40L, "delete", 1L),
      (20L, 200L, "insert", 2L), (21L, 210L, "insert", 2L),
      (22L, 220L, "insert", 2L)),
      s"history replay from v0, got ${seen.asScala.toSet}")
    // While down: an UPDATE (v3) — the restart serves exactly its span.
    graft.ext.GraftSqlParser.sql(spark,
      s"UPDATE $tbl SET v = 777 WHERE id = 7")
    seen.clear()
    drainCdc(ckpt, Some(0L))
    assert(seen.asScala.toSet === Set(
      (7L, 70L, "update_preimage", 3L), (7L, 777L, "update_postimage", 3L)),
      s"the restart serves only the new span, got ${seen.asScala.toSet}")
    // Idle restart: nothing.
    seen.clear()
    drainCdc(ckpt, Some(0L))
    assert(seen.isEmpty)
    // DEFAULT start (no startingVersion): a fresh checkpoint serves
    // only changes committed AFTER the stream first advanced.
    val ckpt2 = SparkSpec.tempDir("gts_cdc_ckpt2").toString
    seen.clear()
    drainCdc(ckpt2, None)
    assert(seen.isEmpty, s"default start must skip history, got " +
      s"${seen.asScala.toSet}")
    graft.ext.GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id = 9")
    seen.clear()
    drainCdc(ckpt2, None)
    assert(seen.asScala.toSet === Set((9L, 90L, "delete", 4L)),
      s"only the post-start change streams, got ${seen.asScala.toSet}")
    // An unanswerable span fails the stream loudly: flip the property
    // off, MERGE (v5 unrecorded), stream again.
    graft.ext.GraftSqlParser.sql(spark, s"ALTER TABLE $tbl SET " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'false')")
    spark.range(11, 12).select(col("id"), lit(-1L).as("v"))
      .createOrReplaceTempView("gts_cdc_src")
    graft.ext.GraftSqlParser.sql(spark, s"MERGE INTO $tbl " +
      s"USING gts_cdc_src ON $tbl.id = gts_cdc_src.id " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val e = intercept[Exception] { drainCdc(ckpt2, None) }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: causes(t.getCause)
    assert(causes(e).exists(m => m != null &&
      m.contains("WITHOUT change-data-feed")),
      s"wanted the unrecorded-span failure, got: ${causes(e)}")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("streaming-sink appends stamp the change axis (r17): " +
      "table_changes serves each micro-batch as inserts, composing " +
      "with later DML") {
    import graft.streaming.SnapshotSink
    val tbl = "sink_cdc_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    assert(SnapshotSink.append(spark, tbl, 0L,
      spark.range(0, 3).toDF("id")))
    assert(SnapshotSink.append(spark, tbl, 1L,
      spark.range(3, 5).toDF("id")))
    SnapshotCommit.register(spark, tbl)
    val feed = graft.ext.GraftSqlParser.sql(spark,
      s"SELECT id, change_type, commit_version " +
        s"FROM table_changes('$tbl', 0, 2)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(feed === Set((0L, "insert", 1L), (1L, "insert", 1L),
      (2L, "insert", 1L), (3L, "insert", 2L), (4L, "insert", 2L)),
      s"sink batches must serve as per-version inserts, got $feed")
    // A replayed batch id commits nothing — and so feeds nothing.
    assert(!SnapshotSink.append(spark, tbl, 1L,
      spark.range(90, 95).toDF("id")))
    assert(graft.storage.DeletionVectors.version(spark, tbl) === 2L)
    // Later DML composes on the same axis.
    graft.ext.GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id = 4")
    val del = graft.ext.GraftSqlParser.sql(spark,
      s"SELECT id, change_type, commit_version " +
        s"FROM table_changes('$tbl', 2, 3)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(del === Set((4L, "delete", 3L)), s"got $del")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("readChangeFeed start bounds (r17): startingVersion is " +
      "INCLUSIVE (Delta's contract), startingTimestamp replays from " +
      "an instant, and misapplied options are loud") {
    val tbl = "gts_cdc_start_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    graft.ext.GraftSqlParser.sql(spark, s"CREATE TABLE $tbl AS " +
      "SELECT id, CAST(id * 10 AS BIGINT) AS v FROM range(0, 10)")
    graft.ext.GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id = 1")
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    graft.ext.GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id = 2")
    def drain(opts: Map[String, String]): Set[(Long, String, Long)] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, String, Long)]()
      val ckpt = SparkSpec.tempDir("gts_cdc_start_ckpt").toString
      val q = opts.foldLeft(spark.readStream.format("graft-table")
          .option("table", tbl).option("readChangeFeed", "true")) {
          case (r, (k, v)) => r.option(k, v)
        }.load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(
            (r.getLong(0), r.getString(2), r.getLong(3))))
          ()
        }
        .start()
      q.awaitTermination()
      seen.asScala.toSet
    }
    // startingVersion=2 serves version 2's changes INCLUSIVE — the
    // r17 pre-fix exclusive reading would silently drop them.
    assert(drain(Map("startingVersion" -> "2")) ===
      Set((2L, "delete", 2L)))
    // startingVersion=1: the full history.
    assert(drain(Map("startingVersion" -> "1")) ===
      Set((1L, "delete", 1L), (2L, "delete", 2L)))
    // startingTimestamp between the commits: only the later one.
    def fmt(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneId.of(
        spark.conf.get("spark.sql.session.timeZone", "UTC")))
      .toLocalDateTime.toString.replace('T', ' ')
    assert(drain(Map("startingTimestamp" -> fmt(mid))) ===
      Set((2L, "delete", 2L)))
    // Misapplied options fail at stream construction: both bounds at
    // once, and either bound without readChangeFeed.
    intercept[Exception](drain(Map("startingVersion" -> "1",
      "startingTimestamp" -> fmt(mid))))
    intercept[Exception] {
      spark.readStream.format("graft-table").option("table", tbl)
        .option("startingVersion", "1").load()
        .writeStream.option("checkpointLocation",
          SparkSpec.tempDir("gts_cdc_start_bad").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((_: DataFrame, _: Long) => ()).start()
        .awaitTermination()
    }
    // A start timestamp past the latest change commit fails the
    // stream loudly (Delta's rule) instead of serving silence.
    val e = intercept[Exception](drain(Map("startingTimestamp" ->
      fmt(System.currentTimeMillis() + 60000))))
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: causes(t.getCause)
    assert(causes(e).exists(m => m != null &&
      m.contains("after the latest change commit")),
      s"wanted the past-latest failure, got: ${causes(e)}")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("a filtered stream prunes its batch files through the stats " +
      "sidecar (r17: per-file skipping inside a micro-batch)") {
    import graft.storage.StatsSkipping
    val tbl = "gts_statsprune_tbl"
    SnapshotCommit.destroy(spark, tbl)
    // 32 range-clustered files with a stats sidecar: a 3%-window filter
    // must scan a file subset, not the table.
    StatsSkipping.commitWithStats(spark, tbl, "id") { dir =>
      spark.range(0, 320000)
        .select(col("id"), (col("id") * 3).as("v"))
        .repartitionByRange(32, col("id")).sortWithinPartitions("id")
        .write.parquet(dir)
    }
    StatsSkipping.installRule(spark)
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      })
    def measuredDrain(ckpt: String, filtered: Boolean): (Long, Long) = {
      Thread.sleep(100); bytes.set(0L)
      val n = new java.util.concurrent.atomic.AtomicLong()
      val base = spark.readStream.format("graft-table")
        .option("table", tbl).load()
      val q = (if (filtered)
          base.filter(col("id").between(10000L, 19999L)) else base)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          n.addAndGet(b.count()); () }
        .start()
      q.awaitTermination()
      Thread.sleep(200) // drain the async listener bus
      (bytes.get(), n.get())
    }
    val (fullIo, fullRows) = measuredDrain(
      SparkSpec.tempDir("gts_sp_full").toString, filtered = false)
    val (prunedIo, prunedRows) = measuredDrain(
      SparkSpec.tempDir("gts_sp_pruned").toString, filtered = true)
    assert(fullRows === 320000L)
    assert(prunedRows === 10000L, "the filter is a filter, not a skip")
    info(f"filtered stream IO: $prunedIo vs full $fullIo " +
      f"(${prunedIo.toDouble / fullIo}%.2fx)")
    assert(prunedIo < fullIo / 4,
      s"a 1/32-window filtered micro-batch must prune through the " +
        s"stats sidecar: $prunedIo bytes vs $fullIo unfiltered")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("graft-table SINK: a watermarked stream's no-data micro-batch " +
      "publishes no version and no file, and its replay stays " +
      "exactly-once") {
    val dst = "gts_sink_nodata"
    SnapshotCommit.destroy(spark, dst)
    val landing = SparkSpec.tempDir("gts_nodata_landing")
    val ckpt = SparkSpec.tempDir("gts_nodata_ckpt").toString
    def land(name: String, ids: Seq[Long], hour: Int): Unit =
      spark.createDataFrame(ids.map(i => (i, i * 10)))
        .toDF("event_id", "v")
        .withColumn("ts", to_timestamp(lit(f"2024-01-01 $hour%02d:00:00")))
        .coalesce(1).write.parquet(landing.resolve(name).toString)
    land("f1", 0L until 20L, hour = 1)
    val schema = spark.read.parquet(landing.resolve("f1").toString).schema
    val q = spark.readStream.schema(schema)
      .parquet(landing.toString + "/*")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("graft-table").option("table", dst)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(50))
      .start()
    // Until a batch with no input rows has run after the last one with
    // rows (the watermark moved, so the dedup state needs an eviction
    // pass), and returns the id of that last batch with rows.
    def awaitNoDataBatch(): Long = {
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def progress = q.recentProgress.toSeq
      while (!progress.lastOption.exists(_.numInputRows == 0) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      val ps = progress
      assert(ps.lastOption.exists(_.numInputRows == 0),
        s"no no-data batch ran: ${ps.map(p => p.batchId -> p.numInputRows)}")
      ps.filter(_.numInputRows > 0).map(_.batchId).max
    }
    try {
      val b1 = awaitNoDataBatch()
      assert(SnapshotCommit.currentVersion(spark, dst) === Some(1L))
      val files1 = SnapshotCommit.dataFiles(spark, dst).map(_._1).sorted
      assert(SnapshotSink.lastBatchId(spark, dst) === b1)
      // A replay of the no-data batch is empty again: nothing published.
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        spark.table(dst).schema)
      assert(!SnapshotSink.append(spark, dst, b1 + 1, empty))
      assert(SnapshotCommit.currentVersion(spark, dst) === Some(1L))
      assert(SnapshotCommit.dataFiles(spark, dst).map(_._1).sorted === files1)
      // A replay of the batch with rows is skipped by its recorded id.
      assert(!SnapshotSink.append(spark, dst, b1, spark.table(dst)))
      // The next file: duplicates inside the watermark drop, new ids land
      // as one version, and its no-data batch publishes nothing again.
      land("f2", 15L until 30L, hour = 2)
      awaitNoDataBatch()
      assert(SnapshotCommit.currentVersion(spark, dst) === Some(2L))
      val rows = SnapshotCommit.dataFiles(spark, dst).map { case (_, p) =>
        spark.read.parquet(p.toString).count() }
      assert(rows.forall(_ > 0), s"a zero-row file was published: $rows")
      assert(rows.sum === 30L)
    } finally q.stop()
    SnapshotCommit.register(spark, dst)
    assert(spark.table(dst).select("event_id").collect().map(_.getLong(0))
      .sorted.toSeq === (0L until 30L))
    SnapshotCommit.destroy(spark, dst)
  }
}
