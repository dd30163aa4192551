package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** RocksDB state-store toggle: a 100 TB deployment runs streaming state
  * on RocksDB (state spills to local disk; the default HDFS-backed
  * in-memory provider caps state at executor heap). The engine's
  * stateful operators are provider-agnostic by construction — this spec
  * proves it by running the standard stateful dedup under the RocksDB
  * provider ACROSS A RESTART on one checkpoint: state written by run 1
  * must suppress duplicates in run 2, and the checkpoint must actually
  * carry RocksDB artifacts (so the toggle demonstrably took effect,
  * rather than silently falling back to the default provider).
  *
  * Note the compatibility boundary this also documents: the provider is
  * a PER-CHECKPOINT choice — HDFS-provider state files and RocksDB
  * snapshots are not interchangeable, so switching providers means a
  * new checkpoint (fresh state), exactly as on Databricks.
  * transformWithState (st16) already requires RocksDB and exercises the
  * same toggle on the session-timeout path.
  */
class RocksDBStateSpec extends SparkSpec {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("stateful dedup state survives a restart under the RocksDB provider") {
    val saved = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDB)
    try {
      val base = SparkSpec.tempDir("graft_rocksdb_state")
      val data = base.resolve("data"); Files.createDirectories(data)
      val ckpt = base.resolve("ckpt").toString
      val out = base.resolve("out").toString
      val schema = StructType(Seq(
        StructField("k", StringType), StructField("v", IntegerType)))
      def runOnce(): Unit = {
        val q = spark.readStream.schema(schema).option("header", "true")
          .csv(data.toString)
          .dropDuplicates("k")
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      Files.writeString(data.resolve("b1.csv"), "k,v\na,1\nb,2\na,3\n")
      runOnce()
      val r1 = spark.read.parquet(out)
      assert(r1.select("k").collect().map(_.getString(0)).sorted.toSeq
        === Seq("a", "b"), "in-batch dedup failed")
      // Restart on the same checkpoint: key 'a' arrives again — only the
      // RocksDB-held state from run 1 can know it's a duplicate.
      Files.writeString(data.resolve("b2.csv"), "k,v\na,9\nc,4\n")
      runOnce()
      val r2 = spark.read.parquet(out)
      assert(r2.select("k").collect().map(_.getString(0)).sorted.toSeq
        === Seq("a", "b", "c"),
        "dedup state did not survive the RocksDB restart")
      // And the provider genuinely engaged: RocksDB checkpoints upload
      // zip snapshots / changelogs into the state directory, a layout
      // the default HDFS provider (.delta/.snapshot files) never writes.
      val stateDir = java.nio.file.Paths.get(ckpt, "state")
      val rocksArtifacts = java.nio.file.Files.walk(stateDir)
        .filter(p => { val n = p.getFileName.toString
          n.endsWith(".zip") || n.endsWith(".changelog") })
        .count()
      assert(rocksArtifacts > 0,
        "no RocksDB artifacts under the checkpoint — default provider ran?")
    } finally saved match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }
}
