package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables

/** Change-data management: SCD Type 2 history build and a Delta-CDF-style
  * change feed, both engine-neutral over plain parquet.
  *
  * The reference's dims are SCD1 (latest value wins; its MERGE shape is
  * u3/u5); these two close the remaining lakehouse change-tracking
  * surface a reference user upgrading their dims would reach for:
  * versioned history with validity ranges (u6) and the row-level change
  * stream a downstream incremental consumer reads (u7 — the analogue of
  * Delta's `readChangeFeed`, reference `scripts/gold/fact_order_items.sql`
  * territory where MERGE commits are consumed downstream).
  *
  * Scale: u6 is one hash shuffle on the business key + a window (the
  * same shape as w1's dedup — linear, no self-join); u7 is one
  * full-outer shuffle join on the key with a single-pass row expansion
  * (explode) — no second scan per change class.
  */
object ChangeDataQueries {

  import QuerySpec._

  // ---- U6: SCD Type 2 dimension history ----
  // Three versioned snapshots of the customer segment attribute (v1 =
  // initial load; v2 touches custkey%3; v3 touches custkey%5, compounding
  // on v2 for keys hit by both). The history table assigns each change
  // row [valid_from, valid_to) over the version axis; the open row per
  // key is flagged is_current. valid_to of the current row is NULL (the
  // SCD2 convention) — both engines emit SQL NULL, so the hash agrees.
  val u6Scd2 = withOracle(
    "u6_scd2",
    """WITH v AS (
      |  SELECT c_custkey, c_mktsegment AS seg, CAST(1 AS BIGINT) AS version
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment || '_v2', CAST(2 AS BIGINT)
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey,
      |         (CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment || '_v2'
      |               ELSE c_mktsegment END) || '_v3', CAST(3 AS BIGINT)
      |  FROM customer WHERE c_custkey % 5 = 0)
      |SELECT c_custkey, seg AS c_mktsegment,
      |       version AS valid_from,
      |       lead(version) OVER (PARTITION BY c_custkey ORDER BY version)
      |         AS valid_to,
      |       lead(version) OVER (PARTITION BY c_custkey ORDER BY version)
      |         IS NULL AS is_current
      |FROM v""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val v1 = c.select(col("c_custkey"), col("c_mktsegment").as("seg"),
      lit(1L).as("version"))
    val v2 = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"),
        concat(col("c_mktsegment"), lit("_v2")).as("seg"),
        lit(2L).as("version"))
    val v3 = c.filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"),
        concat(
          when(col("c_custkey") % 3 === 0,
            concat(col("c_mktsegment"), lit("_v2")))
            .otherwise(col("c_mktsegment")),
          lit("_v3")).as("seg"),
        lit(3L).as("version"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_custkey")).orderBy(col("version"))
    v1.unionAll(v2).unionAll(v3)
      .withColumn("valid_to", lead(col("version"), 1).over(w))
      .select(col("c_custkey"), col("seg").as("c_mktsegment"),
        col("version").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  // ---- U7: row-level change feed between two table versions ----
  // Delta CDF semantics over plain snapshots: inserts carry the post
  // image, deletes the pre image, updates emit BOTH a pre- and a
  // post-image row; unchanged rows emit nothing. Computed as ONE
  // full-outer join with a per-row explode of the applicable change
  // rows — a single pass over the matched frame (no union re-scanning
  // the join once per change class). commit_version stamps the feed
  // the way a transactional log would.
  val u7ChangeFeed = withOracle(
    "u7_change_feed",
    """WITH base AS (
      |  SELECT c_custkey, c_mktsegment,
      |         CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      |  FROM customer WHERE c_custkey % 7 <> 0),
      |nxt AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment || '_v2'
      |              ELSE c_mktsegment END AS c_mktsegment,
      |         CASE WHEN c_custkey % 3 = 0
      |              THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100.00
      |                        AS DECIMAL(18,2))
      |              ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS bal
      |  FROM customer
      |  WHERE NOT (c_custkey % 7 <> 0 AND c_custkey % 11 = 0)),
      |m AS (
      |  SELECT b.c_custkey AS bk, n.c_custkey AS nk,
      |         b.c_mktsegment AS bseg, n.c_mktsegment AS nseg,
      |         b.bal AS bbal, n.bal AS nbal
      |  FROM base b FULL OUTER JOIN nxt n ON b.c_custkey = n.c_custkey)
      |SELECT coalesce(nk, bk) AS c_custkey, nseg AS c_mktsegment,
      |       CAST(nbal AS DOUBLE) AS bal, 'insert' AS change_type,
      |       CAST(2 AS BIGINT) AS commit_version
      |FROM m WHERE bk IS NULL
      |UNION ALL
      |SELECT bk, bseg, CAST(bbal AS DOUBLE), 'delete', CAST(2 AS BIGINT)
      |FROM m WHERE nk IS NULL
      |UNION ALL
      |SELECT bk, bseg, CAST(bbal AS DOUBLE), 'update_preimage',
      |       CAST(2 AS BIGINT)
      |FROM m WHERE bk IS NOT NULL AND nk IS NOT NULL
      |  AND (bseg <> nseg OR bbal <> nbal)
      |UNION ALL
      |SELECT nk, nseg, CAST(nbal AS DOUBLE), 'update_postimage',
      |       CAST(2 AS BIGINT)
      |FROM m WHERE bk IS NOT NULL AND nk IS NOT NULL
      |  AND (bseg <> nseg OR bbal <> nbal)""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val bal2 = col("c_acctbal").cast("decimal(18,2)")
    val base = c.filter(col("c_custkey") % 7 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"), bal2.as("bal"))
    val nxt = c
      .filter(!(col("c_custkey") % 7 =!= 0 && col("c_custkey") % 11 === 0))
      .select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0,
          concat(col("c_mktsegment"), lit("_v2")))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        when(col("c_custkey") % 3 === 0,
          (bal2 + lit("100.00").cast("decimal(18,2)")).cast("decimal(18,2)"))
          .otherwise(bal2).as("bal"))
    val m = base.alias("b")
      .join(nxt.alias("n"), col("b.c_custkey") === col("n.c_custkey"),
        "full_outer")
      .select(col("b.c_custkey").as("bk"), col("n.c_custkey").as("nk"),
        col("b.c_mktsegment").as("bseg"), col("n.c_mktsegment").as("nseg"),
        col("b.bal").as("bbal"), col("n.bal").as("nbal"))
    def change(seg: org.apache.spark.sql.Column,
        bal: org.apache.spark.sql.Column, kind: String) =
      struct(seg.as("c_mktsegment"), bal.as("bal"),
        lit(kind).as("change_type"))
    // explode(NULL) emits zero rows — the unchanged-row case drops here
    // without a separate filter pass.
    m.select(coalesce(col("nk"), col("bk")).as("c_custkey"),
        explode(
          when(col("bk").isNull,
            array(change(col("nseg"), col("nbal"), "insert")))
            .when(col("nk").isNull,
              array(change(col("bseg"), col("bbal"), "delete")))
            .when(col("bseg") =!= col("nseg") || col("bbal") =!= col("nbal"),
              array(
                change(col("bseg"), col("bbal"), "update_preimage"),
                change(col("nseg"), col("nbal"), "update_postimage")))
        ).as("ch"))
      .select(col("c_custkey"), col("ch.c_mktsegment").as("c_mktsegment"),
        col("ch.bal").cast("double").as("bal"),
        col("ch.change_type").as("change_type"),
        lit(2L).as("commit_version"))
  }

  // ---- u9: semantic diff between two ENGINE table versions ----
  /** u7 synthesizes its two versions relationally; this one diffs the
    * engine's OWN deletion-vector time travel: two versioned DELETEs
    * land on a real snapshot table, and the feed of rows REMOVED
    * between v1 and v2 is `readAt(v1) EXCEPT readAt(v2)` — the
    * "what changed between these two versions" audit question asked
    * directly of the storage layer, under the DuckDB hash gate. With
    * immutable data files + the versioned sidecar the diff needs no
    * log replay: both versions are directly readable and EXCEPT is one
    * shuffle on the row image. (DV versions only remove rows, so the
    * insert arm is empty by construction — u7 covers the full
    * insert/update/delete vocabulary.)
    */
  val u9VersionDiff = withOracle(
    "u9_version_diff",
    """SELECT o_orderkey, o_orderstatus,
      |       CAST(o_totalprice AS DOUBLE) AS total,
      |       'delete' AS change_type, CAST(2 AS BIGINT) AS commit_version
      |FROM orders
      |WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0""".stripMargin) {
    (s, d) =>
      val tbl = s"orders_diff_${graft.queries.StorageQueries.sfName(d)}"
      graft.storage.SnapshotCommit.destroy(s, tbl)
      graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("total"))
        .write.mode("overwrite").format("parquet").saveAsTable(tbl)
      val v1 = graft.storage.DeletionVectors
        .delete(s, tbl, col("o_orderkey") % 7 === 0)
      val v2 = graft.storage.DeletionVectors
        .delete(s, tbl, col("o_orderkey") % 5 === 0)
      graft.storage.DeletionVectors.readAt(s, tbl, v1)
        .except(graft.storage.DeletionVectors.readAt(s, tbl, v2))
        .select(col("o_orderkey"), col("o_orderstatus"), col("total"),
          lit("delete").as("change_type"),
          lit(v2).as("commit_version"))
  }

  /** u10 — MERGE INTO as SQL against a COMMITTED table: the statement a
    * reference user types on Databricks, parsed by
    * [[graft.ext.GraftSqlParser]] and executed as a snapshot-rewrite
    * commit (u3/u5/u8 prove the same algebra at plan level; this is the
    * table-MUTATING twin, with each MERGE publishing an atomic new
    * version). The entry drives two statements — the canonical upsert
    * (`WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`)
    * and a keyed delete (`WHEN MATCHED THEN DELETE`, aliased relations)
    * — then reads the final table state under the hash gate. Delta's
    * duplicate-source-keys error and the live-view (DV-masked) target
    * read are pinned in ExtensionsSpec.
    */
  val u10MergeSql = withOracle(
    "u10_merge_sql",
    """WITH target AS (
      |  SELECT c_custkey, c_mktsegment,
      |         CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      |  FROM customer WHERE c_custkey % 2 = 1),
      |source AS (
      |  SELECT c_custkey, c_mktsegment || '_m' AS c_mktsegment,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 5.00
      |              AS DECIMAL(18,2)) AS bal
      |  FROM customer WHERE c_custkey % 3 <> 0),
      |upserted AS (
      |  SELECT t.* FROM target t
      |  WHERE t.c_custkey NOT IN (SELECT c_custkey FROM source)
      |  UNION ALL SELECT * FROM source)
      |SELECT c_custkey, c_mktsegment, CAST(bal AS DOUBLE) AS bal
      |FROM upserted WHERE c_custkey % 5 <> 0""".stripMargin) { (s, d) =>
    val k = graft.queries.StorageQueries.sfName(d)
    val tbl = s"cust_merge_$k"
    val srcV = s"cust_merge_src_$k"
    val delV = s"cust_merge_del_$k"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    val c = Tables.customer(s, d)
    graft.storage.SnapshotCommit.commit(s, tbl) { dir =>
      c.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").as("bal"))
        .write.parquet(dir)
    }
    c.filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey"),
        concat(col("c_mktsegment"), lit("_m")).as("c_mktsegment"),
        (col("c_acctbal").cast("decimal(18,2)")
          + lit("5.00").cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("bal"))
      .createOrReplaceTempView(srcV)
    c.filter(col("c_custkey") % 5 === 0).select(col("c_custkey"))
      .createOrReplaceTempView(delV)
    graft.ext.GraftSqlParser.sql(s,
      s"MERGE INTO $tbl USING $srcV ON $tbl.c_custkey = $srcV.c_custkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    graft.ext.GraftSqlParser.sql(s,
      s"MERGE INTO $tbl t USING $delV d ON t.c_custkey = d.c_custkey " +
        "WHEN MATCHED THEN DELETE")
    graft.storage.SnapshotCommit.register(s, tbl)
    s.table(tbl).select(col("c_custkey"), col("c_mktsegment"),
      col("bal").cast("double").as("bal"))
  }

  /** u11 — the MERGE grammar users actually write, against a committed
    * table: multi-column ON key, conditional `WHEN MATCHED AND ...`
    * clauses with FIRST-MATCH semantics, an explicit `UPDATE SET col =
    * expr` that leaves unnamed columns untouched, a conditional DELETE
    * as the fallthrough matched clause, and a conditional `INSERT
    * (cols) VALUES (exprs)` that null-fills the unnamed target column.
    * Parsed by Spark, mapped by [[graft.ext.GraftSqlParser]], and
    * executed with the same touched-file write economics as u10 (probe
    * matched files, rewrite only those, carry the rest by name —
    * StorageSpec pins the counts). The oracle replays Delta's clause
    * algebra relationally: matched pairs take the first holding clause,
    * unmatched target rows survive, unmatched source rows insert only
    * where their clause condition holds.
    */
  val u11MergeConditional = withOracle(
    "u11_merge_conditional",
    """WITH t0 AS (
      |  SELECT c_custkey % 97 AS k1,
      |         CAST(floor(c_custkey / 97) AS BIGINT) AS k2,
      |         CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
      |         c_mktsegment AS seg
      |  FROM customer WHERE c_custkey % 2 = 1),
      |s0 AS (
      |  SELECT c_custkey % 97 AS k1,
      |         CAST(floor(c_custkey / 97) AS BIGINT) AS k2,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 10.00
      |              AS DECIMAL(18,2)) AS bal,
      |         c_mktsegment || '_s' AS seg
      |  FROM customer WHERE c_custkey % 3 = 0),
      |m_out AS (
      |  SELECT t0.k1, t0.k2, s0.bal, upper(s0.seg) AS seg
      |  FROM t0 JOIN s0 ON t0.k1 = s0.k1 AND t0.k2 = s0.k2
      |  WHERE s0.bal > 3000.00),
      |kept AS (
      |  SELECT t0.* FROM t0
      |  WHERE NOT EXISTS (SELECT 1 FROM s0
      |                    WHERE s0.k1 = t0.k1 AND s0.k2 = t0.k2)),
      |ins AS (
      |  SELECT s0.k1, s0.k2,
      |         CAST(s0.bal - 1.50 AS DECIMAL(18,2)) AS bal,
      |         CAST(NULL AS VARCHAR) AS seg
      |  FROM s0
      |  WHERE NOT EXISTS (SELECT 1 FROM t0
      |                    WHERE t0.k1 = s0.k1 AND t0.k2 = s0.k2)
      |    AND s0.bal <= 5000.00)
      |SELECT k1, k2, CAST(bal AS DOUBLE) AS bal, seg
      |FROM (SELECT * FROM m_out UNION ALL SELECT * FROM kept
      |      UNION ALL SELECT * FROM ins)""".stripMargin) { (s, d) =>
    val k = graft.queries.StorageQueries.sfName(d)
    val tbl = s"cust_cmerge_$k"
    val srcV = s"cust_cmerge_src_$k"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    val c = Tables.customer(s, d)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.select(
      (col("c_custkey") % 97).as("k1"),
      floor(col("c_custkey") / lit(97)).cast("bigint").as("k2"),
      col("c_acctbal").cast("decimal(18,2)").as("bal"),
      col("c_mktsegment").as("seg"))
    graft.storage.SnapshotCommit.commit(s, tbl) { dir =>
      keyed(c.filter(col("c_custkey") % 2 === 1)).write.parquet(dir)
    }
    keyed(c.filter(col("c_custkey") % 3 === 0))
      .withColumn("bal", (col("bal") + lit("10.00").cast("decimal(18,2)"))
        .cast("decimal(18,2)"))
      .withColumn("seg", concat(col("seg"), lit("_s")))
      .createOrReplaceTempView(srcV)
    graft.ext.GraftSqlParser.sql(s,
      s"""MERGE INTO $tbl AS tt USING $srcV AS ss
         |ON tt.k1 = ss.k1 AND tt.k2 = ss.k2
         |WHEN MATCHED AND ss.bal > 3000.00
         |  THEN UPDATE SET bal = ss.bal, seg = upper(ss.seg)
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED AND ss.bal <= 5000.00
         |  THEN INSERT (k1, k2, bal) VALUES (ss.k1, ss.k2, ss.bal - 1.50)
         |""".stripMargin)
    graft.storage.SnapshotCommit.register(s, tbl)
    s.table(tbl).select(col("k1"), col("k2"),
      col("bal").cast("double").as("bal"), col("seg"))
  }

  /** u12 — row-level DML as SQL: `DELETE FROM ... WHERE` (a
    * deletion-vector mark — no data rewrite, StorageSpec/ExtensionsSpec
    * pin the files carrying by name) followed by `UPDATE ... SET ...
    * WHERE` (a touched-file rewrite, Delta's UPDATE shape — only files
    * holding a matching live row rewrite; assignments cast to the
    * column's type and may reference the row's own columns). The gated
    * frame is the final LIVE view; the oracle replays both statements
    * relationally. Completes the DML triad with u10/u11's MERGE.
    */
  val u12DmlSql = withOracle(
    "u12_dml_sql",
    """SELECT o_orderkey AS k,
      |       CAST(CASE WHEN o_orderstatus = 'F'
      |                 THEN CAST(o_totalprice AS DECIMAL(18,2)) + 100.00
      |                 ELSE CAST(o_totalprice AS DECIMAL(18,2)) END
      |            AS DOUBLE) AS total,
      |       o_orderstatus AS status
      |FROM orders WHERE o_orderkey % 6 <> 0""".stripMargin) { (s, d) =>
    val tbl = s"orders_dml_${graft.queries.StorageQueries.sfName(d)}"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    graft.storage.SnapshotCommit.commit(s, tbl) { dir =>
      Tables.orders(s, d)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("decimal(18,2)").as("total"),
          col("o_orderstatus").as("status"))
        // status-clustered layout: the UPDATE below touches only the
        // files holding 'F' rows, the rest carry by name.
        .repartitionByRange(6, col("status"), col("k"))
        .sortWithinPartitions(col("status"), col("k"))
        .write.parquet(dir)
    }
    graft.ext.GraftSqlParser.sql(s,
      s"DELETE FROM $tbl WHERE k % 6 = 0")
    graft.ext.GraftSqlParser.sql(s,
      s"UPDATE $tbl SET total = total + 100.00 WHERE status = 'F'")
    graft.storage.SnapshotCommit.register(s, tbl)
    graft.storage.DeletionVectors.read(s, tbl)
      .select(col("k"), col("total").cast("double").as("total"),
        col("status"))
  }

  /** u13 — time travel as plain SQL: `SELECT ... FROM t VERSION AS OF v`
    * resolves against the deletion-vector history (version 0 = the
    * pre-delete table; b4 proves the same semantics through the Scala
    * API). Two DV deletes accumulate; the gated read is AS OF the
    * first — the second delete must be invisible to it. Works on both
    * wiring paths: the injected parser rewrites the RelationTimeTravel
    * node at plan level, and a live session runs the same parse
    * (GraftSqlParser.sql).
    */
  val u13VersionAsOfSql = withOracle(
    "u13_version_as_of_sql",
    """SELECT o_orderkey AS k, o_orderstatus AS status,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin) { (s, d) =>
    val tbl = s"orders_asof_${graft.queries.StorageQueries.sfName(d)}"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    graft.storage.SnapshotCommit.commit(s, tbl) { dir =>
      Tables.orders(s, d)
        .select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").cast("double").as("total"))
        .write.parquet(dir)
    }
    graft.ext.GraftSqlParser.sql(s, s"DELETE FROM $tbl WHERE k % 7 = 0")
    graft.ext.GraftSqlParser.sql(s, s"DELETE FROM $tbl WHERE k % 5 = 0")
    graft.ext.GraftSqlParser.sql(s,
      s"SELECT k, status, total FROM $tbl VERSION AS OF 1")
  }

  /** u14 — `TIMESTAMP AS OF` time travel as plain SQL: resolves to the
    * LATEST delete version committed at or before the anchor (Delta's
    * rule) through the sidecar's per-version `_ts:` commit-timestamp
    * sentinels. Two deletes land; a wall-clock instant captured BETWEEN
    * them (with a short sleep so the second delete's stamp is strictly
    * later) must serve the version-1 state — the second delete
    * invisible. Same gated frame as u13 by construction; both wiring
    * paths share the resolution (ExtensionsSpec pins the injected-
    * parser node plus the before-first-commit and between-versions
    * edges).
    */
  val u14TimestampAsOfSql = withOracle(
    "u14_timestamp_as_of_sql",
    """SELECT o_orderkey AS k, o_orderstatus AS status,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin) { (s, d) =>
    val tbl = s"orders_tsasof_${graft.queries.StorageQueries.sfName(d)}"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    graft.storage.SnapshotCommit.commit(s, tbl) { dir =>
      Tables.orders(s, d)
        .select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").cast("double").as("total"))
        .write.parquet(dir)
    }
    graft.ext.GraftSqlParser.sql(s, s"DELETE FROM $tbl WHERE k % 7 = 0")
    val mid = System.currentTimeMillis()
    Thread.sleep(5) // the second delete's stamp must be strictly later
    graft.ext.GraftSqlParser.sql(s, s"DELETE FROM $tbl WHERE k % 5 = 0")
    val anchor = java.time.Instant.ofEpochMilli(mid)
      .atZone(java.time.ZoneId.of(
        s.conf.get("spark.sql.session.timeZone", "UTC")))
      .toLocalDateTime.toString.replace('T', ' ')
    graft.ext.GraftSqlParser.sql(s,
      s"SELECT k, status, total FROM $tbl TIMESTAMP AS OF '$anchor'")
  }

  /** u15 — CTAS + INSERT INTO through the snapshot commit protocol: the
    * two most common write statements a Databricks user types now
    * produce VERSIONED tables (the r15 verdict's gap: they previously
    * fell through to plain saveAsTable — no version chain, no stats, no
    * time travel). The entry CTAS-creates half the orders, INSERTs the
    * other half (an append commit: prior files carry by name), DV-
    * deletes a slice, and gates the final live view; requires() prove
    * the versioned surface works on the CTAS'd table — DESCRIBE
    * HISTORY serves all three commits and VERSION AS OF 0 still sees
    * every row.
    */
  val u15CtasInsertSql = withOracle(
    "u15_ctas_insert_sql",
    """SELECT o_orderkey AS k, o_orderstatus AS status,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey % 5 <> 0""".stripMargin) { (s, d) =>
    val tbl = s"orders_ctas_${graft.queries.StorageQueries.sfName(d)}"
    val src = s"${tbl}_src"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    Tables.orders(s, d)
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("total"))
      .createOrReplaceTempView(src)
    graft.ext.GraftSqlParser.sql(s,
      s"CREATE TABLE $tbl AS SELECT * FROM $src WHERE k % 2 = 0")
    graft.ext.GraftSqlParser.sql(s,
      s"INSERT INTO $tbl SELECT * FROM $src WHERE k % 2 <> 0")
    graft.ext.GraftSqlParser.sql(s, s"DELETE FROM $tbl WHERE k % 5 = 0")
    // The versioned surface came free with the CTAS: three commits in
    // history, and time travel to the pre-delete state.
    require(graft.ext.GraftSqlParser.sql(s, s"DESCRIBE HISTORY $tbl")
      .count() >= 2, s"$tbl: CTAS/INSERT history missing")
    val total = Tables.orders(s, d).count()
    require(graft.ext.GraftSqlParser.sql(s,
      s"SELECT count(*) AS n FROM $tbl VERSION AS OF 0")
      .collect()(0).getLong(0) == total,
      s"$tbl: VERSION AS OF 0 must see every inserted row")
    // The gated frame is the LIVE view (DV-masked) — a raw table read
    // deliberately sees the unmasked files (u12's convention).
    graft.storage.DeletionVectors.read(s, tbl)
      .select(col("k"), col("status"), col("total"))
  }

  /** u16 — Delta's CDC TVF as SQL: `table_changes(t, v1, v2)` serves
    * the FULL row-level change feed between two versions (r17:
    * previously delete-only): rows REMOVED (first-delete semantics — a
    * re-deleted coordinate reports the version that first killed it,
    * so the %35 overlap re-deleted at v3 stays attributed to v1 and
    * OUTSIDE the (1,3] range) and rows INSERTED (served from the files
    * the insert's `_add:` sentinels name, AS INSERTED), each tagged
    * change_type/commit_version. One bounded sidecar pass dispatches
    * the arms; each arm is one scan — never a per-version diff loop.
    * The inserted keys (k*70+1) can never hit the delete predicates,
    * keeping the two arms algebraically disjoint for the oracle.
    */
  val u16TableChangesSql = withOracle(
    "u16_table_changes_sql",
    """SELECT o_orderkey, o_orderstatus,
      |       CAST(o_totalprice AS DOUBLE) AS total,
      |       'delete' AS change_type, CAST(3 AS BIGINT) AS commit_version
      |FROM orders
      |WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
      |UNION ALL
      |SELECT o_orderkey * 70 + 1, 'I', CAST(1.5 AS DOUBLE),
      |       'insert', CAST(2 AS BIGINT)
      |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin) {
    (s, d) =>
      val tbl = s"orders_cdc_${graft.queries.StorageQueries.sfName(d)}"
      val src = s"${tbl}_ins_src"
      graft.storage.SnapshotCommit.destroy(s, tbl)
      graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
      graft.storage.SnapshotCommit.commit(s, tbl) { dir =>
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("double").as("total"))
          .write.parquet(dir)
      }
      graft.storage.DeletionVectors
        .delete(s, tbl, col("o_orderkey") % 7 === 0) // v1
      Tables.orders(s, d).filter(col("o_orderkey") % 3 === 0)
        .select((col("o_orderkey") * 70 + 1).as("o_orderkey"),
          lit("I").as("o_orderstatus"),
          lit(1.5).cast("double").as("total"))
        .createOrReplaceTempView(src)
      graft.ext.GraftSqlParser.sql(s,
        s"INSERT INTO $tbl SELECT * FROM $src") // v2
      graft.storage.DeletionVectors
        .delete(s, tbl, col("o_orderkey") % 5 === 0) // v3
      graft.ext.GraftSqlParser.sql(s,
        s"SELECT o_orderkey, o_orderstatus, total, change_type, " +
          s"commit_version FROM table_changes('$tbl', 1, 3)")
  }

  /** u17 — INSERT OVERWRITE + RESTORE TO TIMESTAMP as one lifecycle:
    * CTAS half the orders, OVERWRITE with the full set (a replace
    * version — the half-load must vanish, not union), two DV deletes,
    * then `RESTORE TABLE ... TO TIMESTAMP AS OF` an instant captured
    * between them (the same `_ts` timeline as u14) rolls the second
    * delete back. Gated frame = the restored live view; requires()
    * prove the overwrite actually replaced (count) and that history
    * grew (a version chain, not a destroy).
    */
  val u17OverwriteRestoreSql = withOracle(
    "u17_overwrite_restore_sql",
    """SELECT o_orderkey AS k, o_orderstatus AS status,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin) { (s, d) =>
    val tbl = s"orders_ovr_${graft.queries.StorageQueries.sfName(d)}"
    val src = s"${tbl}_src"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    Tables.orders(s, d)
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("total"))
      .createOrReplaceTempView(src)
    val total = s.table(src).count()
    graft.ext.GraftSqlParser.sql(s,
      s"CREATE TABLE $tbl AS SELECT * FROM $src WHERE k % 2 = 0")
    graft.ext.GraftSqlParser.sql(s,
      s"INSERT OVERWRITE $tbl SELECT * FROM $src")
    require(s.table(tbl).count() == total,
      s"$tbl: OVERWRITE must replace, not append")
    graft.ext.GraftSqlParser.sql(s, s"DELETE FROM $tbl WHERE k % 7 = 0")
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    graft.ext.GraftSqlParser.sql(s, s"DELETE FROM $tbl WHERE k % 5 = 0")
    val anchor = java.time.Instant.ofEpochMilli(mid)
      .atZone(java.time.ZoneId.of(
        s.conf.get("spark.sql.session.timeZone", "UTC")))
      .toLocalDateTime.toString.replace('T', ' ')
    graft.ext.GraftSqlParser.sql(s,
      s"RESTORE TABLE $tbl TO TIMESTAMP AS OF '$anchor'")
    require(graft.ext.GraftSqlParser.sql(s, s"DESCRIBE HISTORY $tbl")
      .count() >= 2, s"$tbl: the lifecycle must be a version chain")
    graft.storage.DeletionVectors.read(s, tbl)
      .select(col("k"), col("status"), col("total"))
  }

  /** u18 — ALTER TABLE ADD COLUMNS on the versioned surface (r17):
    * CTAS -> widen with a `note STRING` column (a metadata-only commit
    * + schema-ledger entry) -> INSERT rows that fill it. The live view
    * serves the widened schema with the pre-alter files null-filled;
    * `VERSION AS OF 0` still serves the ORIGINAL column set (require,
    * not oracle — DuckDB sees only the final frame). The oracle
    * rebuilds both populations relationally.
    */
  val u18AddColumnSql = withOracle(
    "u18_add_column_sql",
    """SELECT o_orderkey AS k, o_orderstatus AS status,
      |       CAST(o_totalprice AS DOUBLE) AS total,
      |       CAST(NULL AS VARCHAR) AS note
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE),
      |       'late'
      |FROM orders WHERE o_orderkey % 2 <> 0""".stripMargin) { (s, d) =>
    val tbl = s"orders_addcol_${graft.queries.StorageQueries.sfName(d)}"
    val src = s"${tbl}_src"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    Tables.orders(s, d)
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("total"))
      .createOrReplaceTempView(src)
    graft.ext.GraftSqlParser.sql(s,
      s"CREATE TABLE $tbl AS SELECT * FROM $src WHERE k % 2 = 0")
    graft.ext.GraftSqlParser.sql(s,
      s"ALTER TABLE $tbl ADD COLUMNS (note STRING)")
    graft.ext.GraftSqlParser.sql(s,
      s"INSERT INTO $tbl SELECT k, status, total, 'late' AS note " +
        s"FROM $src WHERE k % 2 <> 0")
    // Time travel below the alter: the ORIGINAL schema.
    val v0 = graft.ext.GraftSqlParser.sql(s,
      s"SELECT * FROM $tbl VERSION AS OF 0")
    require(!v0.columns.contains("note"),
      s"$tbl: VERSION AS OF 0 must serve the pre-alter schema, got " +
        v0.columns.mkString(","))
    val live = graft.storage.DeletionVectors.read(s, tbl)
    require(live.columns.contains("note"),
      s"$tbl: the live view must serve the widened schema")
    live.select(col("k"), col("status"), col("total"), col("note"))
  }

  /** u19 — COPY INTO (r17): Databricks' idempotent batch ingest. The
    * odd orders export to CSV, a CTAS seeds the evens, COPY INTO loads
    * the CSVs as one append version, and a SECOND identical COPY loads
    * ZERO files (the `_copy:` ledger — exactly-once for ad-hoc loads,
    * the `_batchid` discipline generalized). Gated frame = the live
    * view (all orders); requires() pin the idempotence.
    */
  val u19CopyIntoSql = withOracle(
    "u19_copy_into_sql",
    """SELECT o_orderkey AS k, o_orderstatus AS status,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders""".stripMargin) { (s, d) =>
    val tbl = s"orders_copy_${graft.queries.StorageQueries.sfName(d)}"
    val src = s"${tbl}_src"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    Tables.orders(s, d)
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("total"))
      .createOrReplaceTempView(src)
    val csvDir = graft.core.Scratch.root(s).resolve(s"${tbl}_csv").toString
    s.table(src).filter(col("k") % 2 =!= 0)
      .coalesce(4).write.mode("overwrite")
      .option("header", "true").csv(csvDir)
    graft.ext.GraftSqlParser.sql(s,
      s"CREATE TABLE $tbl AS SELECT * FROM $src WHERE k % 2 = 0")
    def copy(): Map[String, String] = graft.ext.GraftSqlParser.sql(s,
      s"COPY INTO $tbl FROM '$csvDir' FILEFORMAT = CSV " +
        "FORMAT_OPTIONS ('header' = 'true')").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val first = copy()
    require(first("files_loaded").toLong > 0,
      s"$tbl: first COPY INTO must load the exported files, got $first")
    val second = copy()
    require(second("files_loaded").toLong == 0,
      s"$tbl: re-running COPY INTO must be a no-op, got $second")
    graft.storage.DeletionVectors.read(s, tbl)
      .select(col("k"), col("status"), col("total"))
  }

  /** st24 — the SQL WRITE surface and the STREAMING READ surface
    * compose (r17): a `graft-table` stream tails a table whose appends
    * land through INSERT INTO — versioned commits that RE-STAMP the
    * deletion-vector sidecar with change-feed sentinels — and each
    * micro-batch MERGEs into a downstream table. The content-based DV
    * fingerprint must read those stamps as APPENDS (a file-level
    * fingerprint flagged every INSERT as a change commit); the second
    * drain is a checkpoint RESTART serving exactly the inserted files.
    */
  val st24StreamInsertInto = withOracle(
    "st24_stream_insert_into",
    """SELECT o_orderkey AS k, o_orderstatus AS status,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders""".stripMargin) { (s, d) =>
    val bronze = s"orders_sii_bronze_${graft.queries.StorageQueries.sfName(d)}"
    val silver = s"orders_sii_silver_${graft.queries.StorageQueries.sfName(d)}"
    val src = s"${bronze}_src"
    Seq(bronze, silver).foreach { t =>
      graft.storage.SnapshotCommit.destroy(s, t)
      graft.core.CatalogUtil.dropOrphanLocation(s, t)
    }
    val ckpt = graft.core.Scratch.fresh(s, s"ckpt/$bronze").toString
    Tables.orders(s, d)
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("total"))
      .createOrReplaceTempView(src)
    def drain(): Unit = {
      val q = s.readStream.format("graft-table")
        .option("table", bronze).load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          new graft.pipeline.Pipeline()
            .register(graft.pipeline.Dataset(silver, Nil, (_, _) => b,
              materialize = graft.pipeline.Materialize.Incremental(
                Seq("k"))))
            .run(s)
          ()
        }
        .start()
      q.awaitTermination()
    }
    graft.ext.GraftSqlParser.sql(s,
      s"CREATE TABLE $bronze AS SELECT * FROM $src WHERE k % 2 = 0")
    drain()
    graft.ext.GraftSqlParser.sql(s,
      s"INSERT INTO $bronze SELECT * FROM $src WHERE k % 2 <> 0")
    drain()
    s.table(silver)
  }

  /** u20 — UPDATE pre/post images in the change feed (r17): a
    * touched-file UPDATE records its matched rows' images at DML time
    * (Delta's `enableChangeDataFeed` `_change_data`, one extra bounded
    * scan of the touched files), and `table_changes` serves them as
    * `update_preimage` / `update_postimage` rows. The oracle rebuilds
    * both images relationally from the source table.
    */
  val u20UpdateImagesSql = withOracle(
    "u20_update_images_sql",
    """SELECT o_orderkey, o_orderstatus,
      |       CAST(o_totalprice AS DOUBLE) AS total,
      |       'update_preimage' AS change_type,
      |       CAST(1 AS BIGINT) AS commit_version
      |FROM orders WHERE o_orderkey % 9 = 0
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus,
      |       CAST(o_totalprice AS DOUBLE) + 100, 'update_postimage',
      |       CAST(1 AS BIGINT)
      |FROM orders WHERE o_orderkey % 9 = 0""".stripMargin) { (s, d) =>
    val tbl = s"orders_cdfupd_${graft.queries.StorageQueries.sfName(d)}"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    graft.storage.SnapshotCommit.commit(s, tbl) { dir =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("total"))
        .write.parquet(dir)
    }
    // Delta's gate, honored: images record only on opted-in tables.
    graft.ext.GraftSqlParser.sql(s, s"ALTER TABLE $tbl SET " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')")
    graft.ext.GraftSqlParser.sql(s,
      s"UPDATE $tbl SET total = total + 100 WHERE o_orderkey % 9 = 0")
    graft.ext.GraftSqlParser.sql(s,
      s"SELECT o_orderkey, o_orderstatus, total, change_type, " +
        s"commit_version FROM table_changes('$tbl', 0, 1)")
  }

  /** st25 — STREAMING change-data-feed (r17): `readChangeFeed=true` on
    * the graft-table source streams the row-level feed per change
    * version — Delta's streaming CDC, the shape a downstream
    * incremental consumer (the reference's silver tables) actually
    * reads. Two drains across a checkpoint restart: the first replays
    * history from version 0 (INSERT then DELETE), the second serves
    * exactly the UPDATE span committed while the stream was down, with
    * images recorded under `delta.enableChangeDataFeed`. Each batch
    * appends exactly-once into an accumulator table; the gated frame is
    * the accumulated feed.
    */
  val st25ChangeFeedStream = withOracle(
    "st25_change_feed_stream",
    """SELECT o_orderkey * 70 + 1 AS o_orderkey, 'I' AS o_orderstatus,
      |       CAST(1.5 AS DOUBLE) AS total,
      |       'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT o_orderkey * 70 + 1, 'I', CAST(1.5 AS DOUBLE),
      |       'delete', CAST(2 AS BIGINT)
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE),
      |       'update_preimage', CAST(3 AS BIGINT)
      |FROM orders WHERE o_orderkey % 9 = 0
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus,
      |       CAST(o_totalprice AS DOUBLE) + 100,
      |       'update_postimage', CAST(3 AS BIGINT)
      |FROM orders WHERE o_orderkey % 9 = 0""".stripMargin) { (s, d) =>
    val tbl = s"orders_cdcs_${graft.queries.StorageQueries.sfName(d)}"
    val out = s"${tbl}_feed"
    val src = s"${tbl}_src"
    Seq(tbl, out).foreach { t =>
      graft.storage.SnapshotCommit.destroy(s, t)
      graft.core.CatalogUtil.dropOrphanLocation(s, t)
    }
    val ckpt = graft.core.Scratch.fresh(s, s"ckpt/$tbl").toString
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("total"))
      .createOrReplaceTempView(src)
    graft.ext.GraftSqlParser.sql(s,
      s"CREATE TABLE $tbl AS SELECT * FROM $src")
    graft.ext.GraftSqlParser.sql(s, s"ALTER TABLE $tbl SET " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')")
    def drain(): Unit = {
      val q = s.readStream.format("graft-table")
        .option("table", tbl)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.SnapshotSink.append(s, out, id,
            org.apache.spark.sql.graftbridge.Bridge.rebatch(b))
          ()
        }
        .start()
      q.awaitTermination()
    }
    // v1: INSERT a disjoint key block; v2: DELETE all of it (coords
    // stay on the insert's files, so the later UPDATE of base rows
    // drops no delete history); drain replays (0, 2].
    graft.ext.GraftSqlParser.sql(s, s"INSERT INTO $tbl " +
      s"SELECT o_orderkey * 70 + 1, 'I', CAST(1.5 AS DOUBLE) " +
      s"FROM $src WHERE o_orderkey % 3 = 0")
    graft.ext.GraftSqlParser.sql(s,
      s"DELETE FROM $tbl WHERE o_orderstatus = 'I'")
    drain()
    // v3 lands while the stream is down; the restart serves its span.
    graft.ext.GraftSqlParser.sql(s, s"UPDATE $tbl SET total = " +
      s"total + 100 WHERE o_orderkey % 9 = 0 AND o_orderstatus <> 'I'")
    drain()
    graft.storage.SnapshotCommit.register(s, out)
    s.table(out)
  }

  /** u21 — `CONVERT TO DELTA` (r17): Databricks' in-place migration
    * statement. A PLAIN parquet catalog table (the pre-migration
    * state every Delta user starts from) converts METADATA-ONLY:
    * version 1 = its files carried by name, per-file stats from the
    * parquet footers — and the whole versioned surface comes free on
    * the spot: DESCRIBE HISTORY serves the CONVERT, a DV DELETE works
    * as row-level DML, `VERSION AS OF 0` still sees every
    * pre-conversion row, and a re-run is a no-op (Delta's idempotence
    * rule). The gated frame is the post-DELETE live view.
    */
  val u21ConvertSql = withOracle(
    "u21_convert_sql",
    """SELECT o_orderkey AS k, o_orderstatus AS status,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey % 6 <> 0""".stripMargin) { (s, d) =>
    val tbl = s"orders_convert_${graft.queries.StorageQueries.sfName(d)}"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    Tables.orders(s, d)
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("total"))
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
    graft.ext.GraftSqlParser.sql(s, s"CONVERT TO DELTA $tbl")
    // Idempotent: a second CONVERT is a no-op, not a second version.
    graft.ext.GraftSqlParser.sql(s, s"CONVERT TO DELTA $tbl")
    require(graft.storage.SnapshotCommit.register(s, tbl)
      .contains(1L), s"$tbl: re-CONVERT must be a no-op at version 1")
    val total = Tables.orders(s, d).count()
    graft.ext.GraftSqlParser.sql(s, s"DELETE FROM $tbl WHERE k % 6 = 0")
    require(graft.ext.GraftSqlParser.sql(s,
      s"SELECT count(*) AS n FROM $tbl VERSION AS OF 0")
      .collect()(0).getLong(0) == total,
      s"$tbl: VERSION AS OF 0 must see every pre-conversion row")
    require(graft.ext.GraftSqlParser.sql(s, s"DESCRIBE HISTORY $tbl")
      .count() >= 1, s"$tbl: CONVERT missing from history")
    graft.storage.DeletionVectors.read(s, tbl)
      .select(col("k"), col("status"), col("total"))
  }

  /** u22 — Delta CHECK constraints (r17): `ALTER TABLE ADD CONSTRAINT
    * ... CHECK (expr)` validates EXISTING rows at ADD time and is then
    * enforced on every versioned write. The entry proves the whole
    * contract: the constraint lands on a clean table, a violating
    * INSERT aborts COMMITTING NOTHING (the require proves the live
    * state is unchanged after the failure), a passing INSERT commits,
    * DROP CONSTRAINT lifts the gate and the once-violating rows load.
    * The gated frame is the final live view — which the oracle can
    * only match if the violating insert really left no partial state.
    */
  val u22CheckConstraintSql = withOracle(
    "u22_check_constraint_sql",
    """SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey + 2000000000, CAST(o_totalprice AS DOUBLE) + 1
      |FROM orders WHERE o_orderkey % 4 = 0
      |UNION ALL
      |SELECT o_orderkey + 3000000000, -1.0
      |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin) { (s, d) =>
    val tbl = s"orders_check_${graft.queries.StorageQueries.sfName(d)}"
    val src = s"${tbl}_src"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    Tables.orders(s, d)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("double").as("total"))
      .createOrReplaceTempView(src)
    graft.ext.GraftSqlParser.sql(s,
      s"CREATE TABLE $tbl AS SELECT * FROM $src")
    graft.ext.GraftSqlParser.sql(s, s"ALTER TABLE $tbl " +
      "ADD CONSTRAINT total_positive CHECK (total > 0)")
    val clean = graft.storage.DeletionVectors.read(s, tbl).count()
    // A violating INSERT must abort committing NOTHING — the valid
    // rows in the same statement must not land either.
    def names(t: Throwable): Boolean = t != null &&
      ((t.getMessage != null && t.getMessage.contains("total_positive"))
        || names(t.getCause))
    val failed =
      try { graft.ext.GraftSqlParser.sql(s, s"INSERT INTO $tbl " +
        s"SELECT k + 3000000000, -1.0 FROM $src WHERE k % 10 = 0 " +
        s"UNION ALL SELECT k + 4000000000, 5.0 FROM $src"); false }
      catch { case e: Exception if names(e) => true }
    require(failed, s"$tbl: violating INSERT must fail loudly")
    require(graft.storage.DeletionVectors.read(s, tbl).count() == clean,
      s"$tbl: the aborted INSERT must commit nothing")
    // A passing write commits under the gate.
    graft.ext.GraftSqlParser.sql(s, s"INSERT INTO $tbl " +
      s"SELECT k + 2000000000, total + 1 FROM $src WHERE k % 4 = 0")
    // DROP lifts the gate; the once-violating rows now load.
    graft.ext.GraftSqlParser.sql(s,
      s"ALTER TABLE $tbl DROP CONSTRAINT total_positive")
    graft.ext.GraftSqlParser.sql(s, s"INSERT INTO $tbl " +
      s"SELECT k + 3000000000, -1.0 FROM $src WHERE k % 10 = 0")
    graft.storage.DeletionVectors.read(s, tbl)
      .select(col("k"), col("total"))
  }

  /** u23 — `ALTER TABLE DROP COLUMN` (r17): logical removal through
    * the schema ledger, metadata-only (the files keep the bytes — at
    * 100 TB the whole point is that no rewrite happens). The lifecycle:
    * CTAS three columns, DV-DELETE a slice, DROP one column, INSERT
    * under the narrowed shape — and the requires() prove the
    * time-travel contract: `VERSION AS OF 0` (below the drop) still
    * serves the dropped column's VALUES from the carried files, while
    * the live view is the two-column shape the oracle gates.
    */
  val u23DropColumnSql = withOracle(
    "u23_drop_column_sql",
    """SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey % 7 <> 0
      |UNION ALL
      |SELECT o_orderkey + 2000000000, CAST(1.0 AS DOUBLE)
      |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin) { (s, d) =>
    val tbl = s"orders_dropcol_${graft.queries.StorageQueries.sfName(d)}"
    val src = s"${tbl}_src"
    graft.storage.SnapshotCommit.destroy(s, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(s, tbl)
    Tables.orders(s, d)
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("total"))
      .createOrReplaceTempView(src)
    graft.ext.GraftSqlParser.sql(s,
      s"CREATE TABLE $tbl AS SELECT * FROM $src")
    graft.ext.GraftSqlParser.sql(s, s"DELETE FROM $tbl WHERE k % 7 = 0")
    graft.ext.GraftSqlParser.sql(s,
      s"ALTER TABLE $tbl DROP COLUMN status")
    graft.ext.GraftSqlParser.sql(s, s"INSERT INTO $tbl " +
      s"SELECT k + 2000000000, CAST(1.0 AS DOUBLE) FROM $src " +
      "WHERE k % 3 = 0")
    // Below the drop, the column and its VALUES still serve.
    val hist = graft.ext.GraftSqlParser.sql(s,
      s"SELECT count(*) AS n FROM $tbl VERSION AS OF 0 " +
        "WHERE status IS NOT NULL")
      .collect()(0).getLong(0)
    require(hist == Tables.orders(s, d).count(),
      s"$tbl: VERSION AS OF 0 must serve the dropped column's values")
    graft.storage.DeletionVectors.read(s, tbl)
      .select(col("k"), col("total"))
  }

  val specs: Seq[QuerySpec] =
    Seq(u6Scd2, u7ChangeFeed, u9VersionDiff, u10MergeSql,
      u11MergeConditional, u12DmlSql, u13VersionAsOfSql,
      u14TimestampAsOfSql, u15CtasInsertSql, u16TableChangesSql,
      u17OverwriteRestoreSql, u18AddColumnSql, u19CopyIntoSql,
      u20UpdateImagesSql, st24StreamInsertInto, st25ChangeFeedStream,
      u21ConvertSql, u22CheckConstraintSql, u23DropColumnSql)
}
