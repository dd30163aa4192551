package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Storage-layout operators — the techniques that carry the reference's
  * Delta-side physics (liquid clustering, auto-optimized writes,
  * `fact_order_items.sql:9 CLUSTER BY`) into plain parquet + catalog:
  * bucketed tables for shuffle-free co-located joins, and partitioned
  * writes for partition-pruned scans. Both are WRITE-side investments
  * that delete exchanges/IO from every downstream read — at 100 TB the
  * bucket layout turns the fact-build's dominant shuffle into a local
  * zip of pre-sorted buckets, and partition pruning turns a full scan
  * into a directory lookup.
  */
object StorageQueries {

  import QuerySpec._

  // Injective per directory (basename alone collides across parents —
  // the committed tables would then alias); legal in identifiers.
  private[queries] def sfName(d: String) = graft.core.Scratch.pathKey(d)

  /** Write-once guard: materialize a bucketed/partitioned table ONCE per
    * generation of the source data, not once per process. The in-memory
    * catalog dies with the JVM while the warehouse dir survives, so a
    * naive guard rewrites the table every fresh process (~3s of write
    * charged to what should be a read benchmark). Instead a marker file
    * records the source fingerprint the last successful write derived
    * from (the OlistMaterialized pattern): on a match, the surviving
    * location is RE-REGISTERED via DDL — `CLUSTERED BY ... INTO n
    * BUCKETS LOCATION ...` preserves the bucket metadata, `MSCK REPAIR`
    * rediscovers partitions — and on a mismatch (source regenerated)
    * everything is dropped and rebuilt, so staleness is impossible.
    */
  private[queries] def ensureTable(s: SparkSession, name: String, srcDir: String,
      reRegisterDdl: String => String, repairPartitions: Boolean = false)(
      create: => Unit): Unit = {
    if (s.catalog.tableExists(name)) return
    val hconf = s.sparkContext.hadoopConfiguration
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val marker = new org.apache.hadoop.fs.Path(wh, s"_graft_tbl_$name.fp")
    val fs = marker.getFileSystem(hconf)
    // The marker folds in the re-register DDL: if the table's declared
    // schema/layout changes in code, the fingerprint mismatches and the
    // table is rebuilt — old files can never be re-registered under a
    // new declared schema.
    val fp = graft.olist.OlistMaterialized.fingerprint(s, srcDir) +
      "|" + graft.core.Scratch.sha8(reRegisterDdl("<loc>"))
    // Line 2 of the marker is the table location the successful write
    // ACTUALLY produced (from the catalog, written below) — re-deriving
    // it from the warehouse conf would silently point the re-registered
    // DDL at the wrong-but-existing path if the session's current
    // database or a custom location were ever in play.
    val prior: Option[(String, String)] =
      if (!fs.exists(marker)) None
      else scala.util.Try {
        val in = fs.open(marker)
        try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      }.toOption.map(_.split("\n", 2)).collect {
        case Array(f, l) => (f, l.trim)
      }
    prior match {
      case Some((pfp, ploc)) if pfp == fp &&
          fs.exists(new org.apache.hadoop.fs.Path(ploc)) =>
        s.sql(reRegisterDdl(ploc))
        if (repairPartitions) s.sql(s"MSCK REPAIR TABLE $name")
      case _ =>
        if (fs.exists(marker)) fs.delete(marker, false)
        graft.core.CatalogUtil.dropOrphanLocation(s, name)
        create
        val actualLoc = s.sql(s"DESCRIBE TABLE EXTENDED $name")
          .filter(col("col_name") === "Location")
          .select("data_type").head().getString(0)
        val out = fs.create(marker, true)
        try out.write(s"$fp\n$actualLoc".getBytes("UTF-8"))
        finally out.close()
    }
  }

  /** b1 — co-located join + aggregation over bucketed tables.
    *
    * Both sides are bucketed AND sorted by the join key, so the
    * sort-merge join consumes bucket files directly: no Exchange, no
    * Sort on either side (outputPartitioning/outputOrdering already
    * match), and the post-join aggregation on the same key stays
    * shuffle-free too. The `merge` hint pins SMJ so the demo shows the
    * bucket-to-bucket plan even where AQE would broadcast at test scale.
    */
  val b1BucketedJoin = withOracle(
    "b1_bucketed_join",
    """SELECT o.o_orderkey,
      |       CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderstatus = 'F'
      |GROUP BY o.o_orderkey""".stripMargin) { (s, d) =>
    val sf = sfName(d)
    val lTbl = s"lineitem_bkt_$sf"
    val oTbl = s"orders_bkt_$sf"
    ensureTable(s, lTbl, d, loc =>
      s"""CREATE TABLE $lTbl (l_orderkey BIGINT, l_quantity DOUBLE)
         |USING parquet
         |CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey) INTO 8 BUCKETS
         |LOCATION '$loc'""".stripMargin) {
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").saveAsTable(lTbl)
    }
    ensureTable(s, oTbl, d, loc =>
      s"""CREATE TABLE $oTbl (o_orderkey BIGINT, o_orderstatus STRING)
         |USING parquet
         |CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey) INTO 8 BUCKETS
         |LOCATION '$loc'""".stripMargin) {
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .format("parquet").saveAsTable(oTbl)
    }
    val l = s.table(lTbl)
    val o = s.table(oTbl).filter(col("o_orderstatus") === "F")
    l.hint("merge")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  }

  /** The status-partitioned orders table b2 and b5 share: one directory
    * per `o_orderstatus`, so a predicate (static or runtime) on the
    * partition column prunes whole directories before any file is read.
    */
  private def ordersPartTable(s: SparkSession, d: String): String = {
    val tbl = s"orders_part_${sfName(d)}"
    ensureTable(s, tbl, d, loc =>
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_orderdate TIMESTAMP,
         |                   o_totalprice DOUBLE, o_orderstatus STRING)
         |USING parquet
         |PARTITIONED BY (o_orderstatus)
         |LOCATION '$loc'""".stripMargin,
      repairPartitions = true) {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_orderstatus"))
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .format("parquet").saveAsTable(tbl)
    }
    tbl
  }

  /** b2 — partition-pruned scan: orders written partitioned by status,
    * then filtered on the partition column. The scan's PartitionFilters
    * prune to one directory — the files of the other partitions are
    * never listed, let alone read (the parquet analogue of the
    * reference's Delta data skipping).
    */
  val b2PartitionPruning = withOracle(
    "b2_partition_pruning",
    """SELECT o_orderkey, o_orderstatus,
      |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date
      |FROM orders WHERE o_orderstatus = 'P'""".stripMargin) { (s, d) =>
    s.table(ordersPartTable(s, d))
      .filter(col("o_orderstatus") === "P")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate").cast("date").cast("string").as("order_date"))
  }

  /** b5 — DYNAMIC partition pruning: the fact side is the
    * status-partitioned orders table, the dim side is a filter the
    * optimizer cannot evaluate statically (the status of order #1, known
    * only at runtime). Catalyst inserts a DynamicPruningExpression into
    * the fact scan's partition filters, fed from the dim's broadcast —
    * so the fact reads ONLY the partitions whose keys survive the dim
    * filter, decided at runtime (PlanSpec pins the DPP subquery). This
    * is the mechanism that makes star-schema date/dim filters prune a
    * 100 TB partitioned fact without any static predicate on it:
    * static pruning (b2) needs the literal in the query; DPP covers the
    * "WHERE dim.attribute = …" shape every BI query actually has.
    */
  val b5Dpp = withOracle(
    "b5_dpp",
    """WITH dim AS (
      |  SELECT DISTINCT o_orderstatus FROM orders WHERE o_orderkey = 1)
      |SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders o JOIN dim ON o.o_orderstatus = dim.o_orderstatus
      |GROUP BY o.o_orderstatus""".stripMargin) { (s, d) =>
    val dim = Tables.orders(s, d)
      .filter(col("o_orderkey") === 1)
      .select(col("o_orderstatus").as("d_status")).distinct()
    s.table(ordersPartTable(s, d))
      .join(broadcast(dim), col("o_orderstatus") === col("d_status"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
  }

  /** b3 — deletion vectors (`fact_order_items.sql:7
    * delta.enableDeletionVectors`): two DELETEs append physical
    * (file, row_index) coordinates to a sidecar, the read subtracts
    * them with a broadcast anti-join, and the data files are never
    * rewritten (StorageSpec pins names+sizes). Rebuilt per run so the
    * accumulated-vector state is deterministic. Bench note: that
    * rebuild (parquet saveAsTable + two snapshot commits) is filesystem
    * IO, not plan work — under load its wall time swings with fsync
    * latency (r7 spread ~2.2), which the per-query `spread` field in
    * the bench JSON exists to flag.
    */
  val b3DeletionVectors = withOracle(
    "b3_deletion_vectors",
    """SELECT o_orderkey, o_orderstatus,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |WHERE NOT (o_orderkey % 7 = 0) AND NOT (o_orderkey % 5 = 0)""".stripMargin) {
    (s, d) =>
      val tbl = s"orders_dv_${sfName(d)}"
      // in-session rerun or fresh JVM over a used warehouse: clear
      // every snapshot version, and clear the legacy managed dir the
      // saveAsTable below re-creates.
      graft.storage.SnapshotCommit.destroy(s, tbl)
      graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("total"))
        .write.mode("overwrite").format("parquet").saveAsTable(tbl)
      graft.storage.DeletionVectors.delete(s, tbl, col("o_orderkey") % 7 === 0)
      graft.storage.DeletionVectors.delete(s, tbl, col("o_orderkey") % 5 === 0)
      graft.storage.DeletionVectors.read(s, tbl)
  }

  /** b4 — time travel over the deletion-vector history (Delta's
    * `VERSION AS OF` / `RESTORE`): two versioned DELETEs accumulate in
    * the sidecar, then the query reads the table AS OF version 1 — the
    * second delete invisible, the first applied. Immutable data files +
    * an append-only versioned sidecar make every historical version
    * readable with no snapshot copies; StorageSpec additionally proves
    * RESTORE TO v1 (a sidecar-only rewrite) equals this read and leaves
    * the data files byte-identical. Rebuilt per run so the vector
    * history is deterministic.
    */
  val b4TimeTravel = withOracle(
    "b4_time_travel",
    """SELECT o_orderkey, o_orderstatus,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |WHERE NOT (o_orderkey % 7 = 0)""".stripMargin) {
    (s, d) =>
      val tbl = s"orders_tt_${sfName(d)}"
      graft.storage.SnapshotCommit.destroy(s, tbl)
      graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("total"))
        .write.mode("overwrite").format("parquet").saveAsTable(tbl)
      val v1 = graft.storage.DeletionVectors
        .delete(s, tbl, col("o_orderkey") % 7 === 0)
      graft.storage.DeletionVectors.delete(s, tbl, col("o_orderkey") % 5 === 0)
      graft.storage.DeletionVectors.readAt(s, tbl, v1)
  }

  /** b6 — VACUUM with a retention floor over the deletion-vector
    * history: three versioned DELETEs accumulate, then
    * `vacuum(cutoff = 2)` folds v1/v2 INTO the data files (rewriting
    * only the files that held a folded row) and REBASES v3's sidecar
    * coordinates onto the rewritten files' new row indexes. The query
    * reads the live view afterwards — all three deletes applied, v3
    * still working through its rebased physical coordinates. StorageSpec
    * additionally pins the mechanics: live view unchanged across the
    * vacuum, readAt floors below the cutoff, untouched files carried by
    * name, sidecar shrunk to the retained entries + floor sentinel.
    */
  val b6Vacuum = withOracle(
    "b6_vacuum",
    """SELECT o_orderkey, o_orderstatus,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |WHERE NOT (o_orderkey % 7 = 0) AND NOT (o_orderkey % 5 = 0)
      |  AND NOT (o_orderkey % 11 = 0)""".stripMargin) {
    (s, d) =>
      val tbl = s"orders_vac_${sfName(d)}"
      graft.storage.SnapshotCommit.destroy(s, tbl)
      graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("total"))
        .write.mode("overwrite").format("parquet").saveAsTable(tbl)
      graft.storage.DeletionVectors.delete(s, tbl, col("o_orderkey") % 7 === 0)
      graft.storage.DeletionVectors.delete(s, tbl, col("o_orderkey") % 5 === 0)
      graft.storage.DeletionVectors.delete(s, tbl, col("o_orderkey") % 11 === 0)
      graft.storage.DeletionVectors.vacuum(s, tbl, cutoff = 2)
      graft.storage.DeletionVectors.read(s, tbl)
  }

  /** b7 — parquet BLOOM-FILTER index probe (Delta's
    * `delta.bloomFilter.enabled` stand-in, native to the parquet
    * format): the table is written with a bloom filter on o_orderkey
    * and dictionary encoding off (a fully dictionary-encoded chunk
    * would be skipped by dictionary filtering instead, hiding the
    * bloom), laid out so every file spans the full key range — min/max
    * stats can prune NOTHING for a point probe; the bloom filter is the
    * only skipping mechanism. parquet-mr's row-group filter consults it
    * for equality predicates (parquet.filter.bloomfilter.enabled,
    * default on), so the probe reads ~1/N of the row groups instead of
    * all of them. StorageSpec proves the skipping from the footers:
    * blooms present, and a sampled probe "might contain" in well under
    * half the row groups while min/max ranges reject none. The probe
    * key is the max orderkey — present at every sf, collected as a
    * 1-row scalar so the data-source filter is a pushable literal.
    */
  val b7BloomIndex = withOracle(
    "b7_bloom_index",
    """SELECT o_orderkey, o_orderstatus,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)""".stripMargin) {
    (s, d) =>
      val tbl = bloomOrdersTable(s, d)
      val probe = Tables.orders(s, d)
        .agg(max(col("o_orderkey"))).head().getLong(0)
      s.table(tbl)
        .filter(col("o_orderkey") === probe)
        .select(col("o_orderkey"), col("o_orderstatus"), col("total"))
  }

  /** The bloom-indexed orders layout b7 and its StorageSpec proof share:
    * random 8-way split (every file spans the key range) + a bloom
    * filter on o_orderkey, dictionary encoding disabled.
    */
  def bloomOrdersTable(s: SparkSession, d: String): String = {
    val tbl = s"orders_bloom_${sfName(d)}"
    ensureTable(s, tbl, d, loc =>
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_orderstatus STRING,
         |                   total DOUBLE)
         |USING parquet
         |LOCATION '$loc'""".stripMargin) {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("total"))
        .repartition(8)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_orderkey", "true")
        .option("parquet.enable.dictionary", "false")
        .format("parquet").saveAsTable(tbl)
    }
    tbl
  }

  /** b9 — multi-key range probe over a Z-ORDERED layout (the engine's
    * `OPTIMIZE ZORDER BY` / liquid-clustering stand-in, see
    * [[graft.storage.ZOrder]]): orders laid out by the interleaved
    * 16-bit ranks of (o_orderkey, o_custkey), so a range predicate on
    * EITHER key — not just the leading one, as under a lexicographic
    * sort — maps to a narrow band of files/row groups whose min/max
    * stats reject the rest before any data page is read (StorageSpec
    * measures the pruning against parquet footers on both layouts; this
    * entry puts the layout in the live read path with both predicates
    * pushed to the scan). The layout is a WRITE-time investment:
    * one bounds-agg pass + one range shuffle, amortized over every
    * probe on any clustered key — the multi-dimensional analogue of
    * b2's directory pruning at 100 TB.
    */
  val b9ZOrderProbe = withOracle(
    "b9_zorder_probe",
    """SELECT o_orderkey, o_custkey,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |WHERE o_custkey BETWEEN 10 AND 60
      |  AND o_orderkey BETWEEN 1000 AND 5000""".stripMargin) { (s, d) =>
    val tbl = s"orders_z_${sfName(d)}"
    ensureTable(s, tbl, d, loc =>
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_custkey BIGINT,
         |                   total DOUBLE)
         |USING parquet
         |LOCATION '$loc'""".stripMargin) {
      graft.storage.ZOrder.layout(
          Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice").cast("double").as("total")),
          Seq("o_orderkey", "o_custkey"), partitions = Some(8))
        .write.mode("overwrite").format("parquet").saveAsTable(tbl)
    }
    s.table(tbl)
      .filter(col("o_custkey").between(10, 60) &&
        col("o_orderkey").between(1000, 5000))
      .select(col("o_orderkey"), col("o_custkey"), col("total"))
  }

  /** b10 — schema evolution across committed snapshot versions, under
    * the driver's correctness gate (StorageSpec pins the mechanics; this
    * entry makes the driver's DuckDB hash check exercise them end to
    * end). v1 commits a 2-column slice of orders, v2 commits a WIDENED
    * 3-column slice; the entry reads the registered table after the
    * widening commit — the evolved column must be visible and the rows
    * must be exactly v2's (snapshot semantics: v2 replaces v1). Without
    * the pointAt footer-schema re-declare this returns the old 2-column
    * shape and hash-fails. Rebuilt per run so the version history is
    * deterministic.
    */
  val b10SchemaEvolution = withOracle(
    "b10_schema_evolution",
    """SELECT o_orderkey,
      |       CAST(o_totalprice AS DOUBLE) AS total,
      |       o_orderpriority AS priority
      |FROM orders WHERE o_orderkey % 4 = 1""".stripMargin) { (s, d) =>
    val tbl = s"orders_evolve_${sfName(d)}"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    graft.storage.SnapshotCommit.commit(s, tbl) { dir =>
      Tables.orders(s, d).filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("total"))
        .write.parquet(dir)
    }
    graft.storage.SnapshotCommit.register(s, tbl)
    graft.storage.SnapshotCommit.commit(s, tbl) { dir =>
      Tables.orders(s, d).filter(col("o_orderkey") % 4 === 1)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("total"),
          col("o_orderpriority").as("priority"))
        .write.parquet(dir)
    }
    graft.storage.SnapshotCommit.register(s, tbl)
    s.table(tbl)
  }

  /** b11 — zero-copy SHALLOW CLONE under the hash gate: the source
    * commits a slice and takes a DV delete, the clone is taken, then
    * the SOURCE takes a second delete — and the entry reads the CLONE,
    * which must show exactly the state at clone time (first delete
    * applied, second invisible: table-level snapshot isolation). The
    * clone carries data files by hard link (zero bytes copied) and the
    * DV sidecar by the same mechanism; DV coordinates key on file NAME,
    * which the carry preserves, so the cloned vectors bind to the
    * cloned files. Rebuilt per run for a deterministic history.
    */
  val b11ShallowClone = withOracle(
    "b11_shallow_clone",
    """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderkey % 3 = 0 AND NOT (o_orderkey % 9 = 0)""".stripMargin) {
    (s, d) =>
      val src = s"orders_clsrc_${sfName(d)}"
      val cln = s"orders_cldst_${sfName(d)}"
      Seq(src, cln).foreach { t =>
        graft.storage.SnapshotCommit.destroy(s, t)
        graft.core.CatalogUtil.dropOrphanLocation(s, t)
      }
      graft.storage.SnapshotCommit.commit(s, src) { dir =>
        Tables.orders(s, d).filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"),
            col("o_totalprice").cast("double").as("total"))
          .write.parquet(dir)
      }
      graft.storage.SnapshotCommit.register(s, src)
      graft.storage.DeletionVectors.delete(s, src, col("o_orderkey") % 9 === 0)
      graft.storage.SnapshotCommit.clone(s, src, cln)
      // Post-clone divergence: the source deletes MORE; the clone must
      // not see it.
      graft.storage.DeletionVectors.delete(s, src, col("o_orderkey") % 6 === 0)
      graft.storage.DeletionVectors.read(s, cln)
        .select(col("o_orderkey"), col("total"))
  }

  /** b12 — OPTIMIZE (small-file compaction) under the hash gate: a
    * table committed as many tiny files, with a DV delete layered on,
    * is compacted to the target file size — and the read-back must be
    * value-identical, which pins the subtle half of compaction: the
    * rewrite FOLDS the deletion vectors into the compacted files (rows
    * deleted pre-compact must not resurrect once their tombstones'
    * file-name coordinates stop matching the rewritten files).
    * StorageSpec proves the file-count mechanics; this entry makes the
    * driver's DuckDB hash check exercise the fold end to end.
    */
  val b12Compaction = withOracle(
    "b12_compaction",
    """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderkey % 2 = 0 AND NOT (o_orderkey % 10 = 0)""".stripMargin) {
    (s, d) =>
      val tbl = s"orders_compact_${sfName(d)}"
      graft.storage.SnapshotCommit.destroy(s, tbl)
      graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
      graft.storage.SnapshotCommit.commit(s, tbl) { dir =>
        Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"),
            col("o_totalprice").cast("double").as("total"))
          .repartition(16) // the small-file problem, manufactured
          .write.parquet(dir)
      }
      graft.storage.SnapshotCommit.register(s, tbl)
      graft.storage.DeletionVectors.delete(s, tbl, col("o_orderkey") % 10 === 0)
      graft.storage.Optimize.compact(s, tbl)
      graft.storage.DeletionVectors.read(s, tbl)
        .select(col("o_orderkey"), col("total"))
  }

  /** b13 — MANIFEST-level min/max data skipping (Delta's per-file log
    * stats / Iceberg's manifest bounds analogue): commit writes a
    * per-file `[min, max]` sidecar INTO the version directory; the
    * range read intersects the predicate with those bounds and hands
    * Spark only the surviving files. Distinct from b7 (parquet footer
    * blooms — still one GET per footer) and b2 (directory partitions):
    * the whole table's skipping decision costs ONE sidecar read, the
    * planned file list is query-proportional under the range-clustered
    * layout, and the predicate re-applies on the survivors so stats
    * only ever SKIP, never filter. StorageSpec pins the mechanics
    * (strict file subset, conservative no-stats fallback, empty
    * survivor set); this entry puts the skip+re-filter read under the
    * driver's hash gate.
    */
  val b13StatsSkipping = withOracle(
    "b13_stats_skipping",
    """SELECT o_orderkey, o_orderstatus,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderkey BETWEEN 1000 AND 2000""".stripMargin) {
    (s, d) =>
      val tbl = s"orders_stats_${sfName(d)}"
      graft.storage.SnapshotCommit.destroy(s, tbl)
      graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
      graft.storage.StatsSkipping.commitWithStats(s, tbl, "o_orderkey") {
        stage =>
          Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice").cast("double").as("total"))
            .repartitionByRange(8, col("o_orderkey"))
            .sortWithinPartitions("o_orderkey")
            .write.mode("overwrite").parquet(stage)
      }
      graft.storage.StatsSkipping
        .readRange(s, tbl, "o_orderkey", 1000L, 2000L)
        .select(col("o_orderkey"), col("o_orderstatus"), col("total"))
  }

  /** b14 — manifest stats skipping through the DEFAULT read path: the
    * table is committed with multi-column TYPED stats (BIGINT key, DATE,
    * DECIMAL money — the reference's actual clustering-key types,
    * `fact_order_items.sql:9`), and the query is an ORDINARY
    * `spark.table(...).filter(...)` with no Graft read API at all —
    * [[graft.storage.StatsSkippingRule]] (installed once per session,
    * or via `spark.sql.extensions=graft.ext.GraftExtensions`) rewrites
    * the scan to the surviving file subset at optimization time.
    * Distinct from b13 (explicit readRange API): here the capability
    * serves every registered-table read with a pushable point/range
    * predicate, which is what makes the write-side clustering
    * investment pay on a 100 TB fact no matter who writes the query.
    * StorageSpec pins the strict-subset planning; this entry puts the
    * default-path prune + re-filter under the driver's hash gate.
    */
  val b14DefaultStatsPrune = withOracle(
    "b14_default_stats_prune",
    """SELECT o_orderkey,
      |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
      |       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderkey BETWEEN 1000 AND 2000
      |  AND CAST(o_orderdate AS DATE) >= DATE '1993-01-01'
      |  AND CAST(o_totalprice AS DECIMAL(12,2)) <= 250000.00""".stripMargin) {
    (s, d) =>
      val tbl = s"orders_dstats_${sfName(d)}"
      graft.storage.SnapshotCommit.destroy(s, tbl)
      graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
      graft.storage.StatsSkipping.commitWithStats(s, tbl,
        Seq("o_orderkey", "order_date", "total_dec")) { stage =>
        Tables.orders(s, d)
          .select(col("o_orderkey"),
            col("o_orderdate").cast("date").as("order_date"),
            col("o_totalprice").cast("decimal(12,2)").as("total_dec"))
          .repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey")
          .write.mode("overwrite").parquet(stage)
      }
      graft.storage.StatsSkipping.installRule(s)
      s.table(tbl)
        .filter(col("o_orderkey").between(1000, 2000) &&
          col("order_date") >= lit("1993-01-01").cast("date") &&
          col("total_dec") <= lit("250000.00").cast("decimal(12,2)"))
        .select(col("o_orderkey"),
          col("order_date").cast("string").as("order_date"),
          col("total_dec").cast("double").as("total"))
  }

  /** b15 — `OPTIMIZE ZORDER` as a MAINTENANCE op (the re-layout half of
    * the reference's liquid clustering; b9/b14 are the write-side
    * half): the table is committed in a RANDOM layout — every file
    * spans every key range, min/max can prune nothing — with a DV
    * delete layered on, then [[graft.storage.Optimize.zorder]] rewrites
    * the live view into the Z-order layout in ONE atomic version,
    * folding the deletion vector in and publishing a fresh two-column
    * stats sidecar. The query is an ordinary `spark.table` read: after
    * the optimize, the default-path rule plans a strict file subset on
    * the SECOND clustered key — a query-side no-op turned
    * query-proportional purely by maintenance. StorageSpec pins the
    * before/after planning widths and value identity; this entry puts
    * the optimize + DV fold + default-path prune under the hash gate.
    */
  val b15ZorderOptimize = withOracle(
    "b15_zorder_optimize",
    """SELECT o_orderkey, o_custkey,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |WHERE o_custkey BETWEEN 10 AND 60
      |  AND NOT (o_orderkey % 5 = 0)""".stripMargin) { (s, d) =>
    val tbl = s"orders_zopt_${sfName(d)}"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    graft.storage.SnapshotCommit.commit(s, tbl) { dir =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("total"))
        .repartition(8) // the unclustered problem, manufactured
        .write.parquet(dir)
    }
    graft.storage.SnapshotCommit.register(s, tbl)
    graft.storage.DeletionVectors.delete(s, tbl, col("o_orderkey") % 5 === 0)
    graft.storage.Optimize.zorder(s, tbl,
      Seq("o_orderkey", "o_custkey"), partitions = Some(8))
    graft.storage.StatsSkipping.installRule(s)
    s.table(tbl)
      .filter(col("o_custkey").between(10, 60))
      .select(col("o_orderkey"), col("o_custkey"), col("total"))
  }

  /** b16 — the maintenance SQL SURFACE end to end: the statements a
    * reference user types on Databricks (`RESTORE TABLE ... TO VERSION
    * AS OF`, `OPTIMIZE ... ZORDER BY`) parsed by
    * [[graft.ext.GraftSqlParser]] (the same grammar `spark.sql` gets
    * under `spark.sql.extensions=graft.ext.GraftExtensions`) and
    * executed against the engine: two DV deletes accumulate, SQL
    * RESTORE rolls back to version 1, SQL OPTIMIZE ZORDER re-lays the
    * live view with fresh stats, and the default-path read prunes.
    * Same oracle as b15 by construction — the SQL surface must land
    * exactly where the Scala API does.
    */
  val b16MaintenanceSql = withOracle(
    "b16_maintenance_sql",
    """SELECT o_orderkey, o_custkey,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |WHERE o_custkey BETWEEN 10 AND 60
      |  AND NOT (o_orderkey % 5 = 0)""".stripMargin) { (s, d) =>
    val tbl = s"orders_msql_${sfName(d)}"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    graft.storage.SnapshotCommit.commit(s, tbl) { dir =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("total"))
        .repartition(8)
        .write.parquet(dir)
    }
    graft.storage.SnapshotCommit.register(s, tbl)
    graft.storage.DeletionVectors.delete(s, tbl, col("o_orderkey") % 5 === 0)
    graft.storage.DeletionVectors.delete(s, tbl, col("o_orderkey") % 3 === 0)
    graft.ext.GraftSqlParser.sql(s,
      s"RESTORE TABLE $tbl TO VERSION AS OF 1")
    graft.ext.GraftSqlParser.sql(s,
      s"OPTIMIZE $tbl ZORDER BY (o_orderkey, o_custkey)")
    graft.storage.StatsSkipping.installRule(s)
    s.table(tbl)
      .filter(col("o_custkey").between(10, 60))
      .select(col("o_orderkey"), col("o_custkey"), col("total"))
  }

  /** b17 — METADATA-ONLY aggregates (Delta's metadata-only query
    * optimization): a global `min` / `max` / `count(*)` over a
    * stats-bearing committed table is answered from the `_stats`
    * sidecar alone — [[graft.storage.MetadataAggRule]] rewrites the
    * whole Aggregate to a one-row projection of literals, and the plan
    * contains NO scan at all (StorageSpec pins the absence of any
    * FileSourceScan plus the exactness bail-outs). At 100 TB this is
    * "count the fact table" in one sidecar read instead of a petabyte
    * scan. The query is an ORDINARY `spark.table(...).agg(...)` — no
    * engine API — and covers the answered type family: BIGINT key,
    * DATE (epoch-day stats), DECIMAL money, count(*). The driver's
    * hash gate proves the sidecar-computed answers equal DuckDB
    * scanning the raw data.
    */
  val b17MetadataAgg = withOracle(
    "b17_metadata_agg",
    """SELECT CAST(min(l_orderkey) AS BIGINT) AS min_key,
      |       CAST(max(l_orderkey) AS BIGINT) AS max_key,
      |       CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR) AS first_ship,
      |       CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) AS last_ship,
      |       CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      |         AS max_price,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM lineitem""".stripMargin) { (s, d) =>
    val tbl = s"lineitem_magg_${sfName(d)}"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    graft.storage.StatsSkipping.commitWithStats(s, tbl,
      Seq("l_orderkey", "ship_date", "price_dec")) { stage =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          col("l_shipdate").cast("date").as("ship_date"),
          col("l_extendedprice").cast("decimal(12,2)").as("price_dec"))
        .repartition(8)
        .write.mode("overwrite").parquet(stage)
    }
    graft.storage.StatsSkipping.installRule(s)
    s.table(tbl).agg(
      min(col("l_orderkey")).as("min_key"),
      max(col("l_orderkey")).as("max_key"),
      min(col("ship_date")).cast("string").as("first_ship"),
      max(col("ship_date")).cast("string").as("last_ship"),
      max(col("price_dec")).cast("double").as("max_price"),
      count(lit(1)).as("n"))
  }

  /** b18 — metadata-only `count(*)` for a DV-BEARING table. b17 answers
    * raw-relation aggregates from the stats sidecar, but the most common
    * aggregate on a table that has ever seen a DELETE is a count of the
    * LIVE view — whose plan is an anti-join above the scan, which b17's
    * pattern rightly never matches. [[graft.storage.MetadataAggRule]]
    * now recognizes exactly the DV-mask shape and answers `Σ #rows −
    * count(DISTINCT f, p)` from the two sidecars alone: the data scan
    * disappears (StorageSpec pins the plan before/after delete, across
    * RESTORE, and for time travel), and only the bounded deletion-vector
    * sidecar is read. At 100 TB, "how many live rows" after a nightly
    * DELETE is a metadata question, not a petabyte scan. The entry
    * returns live, as-of-v1 and raw counts in one row — all three
    * scan-free — against a DuckDB oracle that recomputes them
    * relationally.
    */
  val b18MetadataAggDv = withOracle(
    "b18_metadata_agg_dv",
    """SELECT
      |  CAST((SELECT count(*) FROM lineitem
      |        WHERE l_orderkey % 7 <> 0 AND l_orderkey % 5 <> 0)
      |    AS BIGINT) AS live_rows,
      |  CAST((SELECT count(*) FROM lineitem WHERE l_orderkey % 7 <> 0)
      |    AS BIGINT) AS v1_rows,
      |  CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS raw_rows"""
      .stripMargin) { (s, d) =>
    val tbl = s"lineitem_maggdv_${sfName(d)}"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    graft.storage.StatsSkipping.commitWithStats(s, tbl, "l_orderkey") {
      stage =>
        Tables.lineitem(s, d).select(col("l_orderkey"))
          .repartition(8).write.mode("overwrite").parquet(stage)
    }
    graft.storage.StatsSkipping.installRule(s)
    val v1 = graft.storage.DeletionVectors
      .delete(s, tbl, col("l_orderkey") % 7 === 0)
    graft.storage.DeletionVectors.delete(s, tbl, col("l_orderkey") % 5 === 0)
    val live = graft.storage.DeletionVectors.read(s, tbl)
      .agg(count(lit(1)).as("live_rows"))
    val atV1 = graft.storage.DeletionVectors.readAt(s, tbl, v1)
      .agg(count(lit(1)).as("v1_rows"))
    val raw = s.table(tbl).agg(count(lit(1)).as("raw_rows"))
    live.crossJoin(atV1).crossJoin(raw)
  }

  val specs: Seq[QuerySpec] =
    Seq(b1BucketedJoin, b2PartitionPruning, b3DeletionVectors, b4TimeTravel,
      b5Dpp, b6Vacuum, b7BloomIndex, b9ZOrderProbe, b10SchemaEvolution,
      b11ShallowClone, b12Compaction, b13StatsSkipping,
      b14DefaultStatsPrune, b15ZorderOptimize, b16MaintenanceSql,
      b17MetadataAgg, b18MetadataAggDv)

  /** Per-row-group `[min, max]` footer statistics of a string column
    * across every parquet file in `dir` — the stats a data-skipping
    * reader (parquet row-group filter, or a Delta/Iceberg file-stat
    * planner over the same layout) prunes on. Exposed for the
    * StorageSpec clusterBy-skipping proof.
    */
  def rowGroupRanges(s: SparkSession, dir: String,
      column: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val hconf = s.sparkContext.hadoopConfiguration
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(hconf)
    fs.listStatus(d).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .flatMap { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(st.getPath, hconf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getFooter.getBlocks.asScala.toSeq.map { block =>
          val stats = block.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(sys.error(s"no $column chunk in ${st.getPath}"))
            .getStatistics
          require(!stats.isEmpty, s"parquet wrote no stats for $column")
          (stats.genericGetMin
             .asInstanceOf[org.apache.parquet.io.api.Binary]
             .toStringUsingUTF8,
           stats.genericGetMax
             .asInstanceOf[org.apache.parquet.io.api.Binary]
             .toStringUsingUTF8)
        } finally reader.close()
      }
  }
}
