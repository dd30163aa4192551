package graft

import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** Child-process half of the cross-process STREAMING-CHECKPOINT restart
  * race (CrossProcessSpec "SIGKILL'd mid-stream..."): a standalone main
  * so the test can run a real checkpointed file-source → file-sink
  * streaming query in one JVM, SIGKILL that JVM mid-batch, and restart
  * the SAME checkpoint from a second JVM — the Auto Loader
  * crash-restart story (`scripts/bronze/bronze_ingestion.py:25,30`:
  * `option("checkpointLocation", ...)` is the reference's whole
  * recovery contract). Exactly-once must hold across the corpse: the
  * offset log replays uncommitted batches, and the parquet sink's
  * `_spark_metadata` commit log hides any part files the victim wrote
  * for a batch it never committed.
  *
  * Protocol: args = dataDir (CSV input), ckptDir, outDir, barrierDir,
  * writer id, mode. The process drops `ready-<id>`, spins until `go`,
  * then runs the query with Trigger.AvailableNow and maxFilesPerTrigger=1
  * so the backlog becomes a SEQUENCE of committed micro-batches. A
  * StreamingQueryListener drops `progress-<id>-<batchId>` markers as
  * batches complete — the parent uses them to time its SIGKILL inside
  * the batch stream, not before the first or after the last. A
  * per-row ~1ms drag (busy-wait expression) stretches each batch so the
  * kill window is wide. Writes `done-<id>` and exits 0 only when the
  * backlog is drained.
  *
  * mode "ingest" = stateless pass-through (exactly-once rests on the
  * offset log + sink commit log alone). mode "dedup-rocksdb" =
  * `dropDuplicates("id")` under the RocksDB state-store provider: the
  * input carries every id TWICE, spread across files, so correct output
  * additionally requires the restarted JVM to RECOVER the victim's
  * RocksDB state from the checkpoint — a duplicate id surviving means
  * state was lost, a missing id means a batch was dropped. This is the
  * reference's bronze dedup (`scripts/silver/silver_products.py:119`)
  * under its Auto Loader crash-restart contract, on the provider a
  * 100 TB deployment runs. mode "graft-table" = the SNAPSHOT-CHAIN
  * streaming source over a SHARED warehouse (dataDir is reinterpreted
  * as "warehouse::table"): the victim tails a SnapshotSink-built table
  * with maxFilesPerTrigger=1 (each version's file its own batch), is
  * SIGKILL'd mid-stream, and the restarter must resume from the
  * checkpoint's offsets + the source's durable per-version manifests —
  * the readStream.table crash-restart contract, across real JVMs.
  */
object CrossProcessStreamer {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, ckptDir, outDir, barrierDir, id, mode) = args
    // graft-table mode shares the PARENT's warehouse (the snapshot
    // chain lives there); dataDir is "warehouse::table".
    val spark = graft.core.Session.local(
      warehouse =
        if (mode == "graft-table") Some(dataDir.split("::")(0)) else None,
      confs =
        if (mode == "dedup-rocksdb")
          Seq("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        else Nil)
    spark.sparkContext.setLogLevel("ERROR")
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(barrierDir))
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        Files.writeString(
          Paths.get(barrierDir, s"progress-$id-${e.progress.batchId}"),
          e.progress.numInputRows.toString)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    Files.writeString(Paths.get(barrierDir, s"ready-$id"), "")
    val deadline = System.currentTimeMillis() + 300000
    while (!Files.exists(Paths.get(barrierDir, "go"))) {
      if (System.currentTimeMillis() > deadline)
        sys.error("barrier: no go signal within 300s")
      Thread.sleep(50)
    }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("payload", StringType)))
    // Per-row drag (~1ms) so each micro-batch is a wide-open kill
    // window; a test-harness UDF, never the product path.
    val drag = org.apache.spark.sql.functions.udf { (id: Long) =>
      Thread.sleep(1); id
    }
    val raw =
      if (mode == "graft-table")
        spark.readStream.format("graft-table")
          .option("table", dataDir.split("::")(1))
          .option("maxFilesPerTrigger", "1")
          .load()
          .withColumn("id", drag(org.apache.spark.sql.functions.col("id")))
      else spark.readStream.schema(schema).option("header", "true")
        .option("maxFilesPerTrigger", "1")
        .csv(dataDir)
        .withColumn("id", drag(org.apache.spark.sql.functions.col("id")))
    val src = if (mode == "dedup-rocksdb") raw.dropDuplicates("id") else raw
    val q = src.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Files.writeString(Paths.get(barrierDir, s"done-$id"), "")
    spark.stop()
  }
}
