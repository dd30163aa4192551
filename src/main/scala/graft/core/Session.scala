package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main, tool and test suite builds
  * its session here, so the engine runs under one set of settings.
  *
  * Core count: `SPARK_GRAFT_CPUS`, default 4. Any other Spark setting
  * (e.g. `spark.sql.streaming.stateStore.providerClass`) is passed as
  * a `-D`/`--conf` Spark property or through `confs`; the factory sets
  * nothing beyond what is listed in [[local]].
  */
object Session {

  /** `local[cpus]` with shuffle partitions = cpus, plus the settings
    * below; `warehouse` sets `spark.sql.warehouse.dir` and `confs` are
    * applied last. */
  def local(warehouse: Option[String] = None,
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Tables.normalizeTs casts the events NTZ timestamps through the
      // SESSION zone — an unset zone on a non-UTC host would silently
      // shift every event-time bucket the streaming entries measure.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The engine's bucketed layouts are SORTED at write (b1, b8) —
      // have scans report that order (one file per bucket) so merge
      // joins consume bucket files directly instead of re-sorting.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // AQE partition-coalescing floor (r18, guide §2.5's unsplittable-
      // input corollary): shuffle.partitions is pinned at the core
      // count above, so every coalesce below it SERIALIZES a stage —
      // and the default 1 MiB floor does exactly that to small-byte /
      // CPU-heavy post-shuffle stages (j19/w15's windows ran ONE task,
      // profiled 0.8-0.9 s each). 64k keeps genuinely-empty partitions
      // merged while letting parallelismFirst target the cores it was
      // designed to target. NOT a local-only knob: whenever
      // shuffle.partitions tracks cluster parallelism, a floor that
      // undercuts it costs CPU-bound stages the same way at any scale;
      // the floor only binds when a stage's whole shuffle is under
      // cores x 64k, where either choice is cheap.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    warehouse.foreach(b.config("spark.sql.warehouse.dir", _))
    confs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
