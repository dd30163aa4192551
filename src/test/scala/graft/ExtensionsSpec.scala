package graft

import graft.ext.GraftExtensions

/** SQL-surface registration of the native kernels. */
class ExtensionsSpec extends SparkSpec {

  test("graft_dot and graft_shingle_set usable from spark.sql") {
    GraftExtensions.register(spark)
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(dot === 11.0)
    val sh = spark.sql(
      "SELECT graft_shingle_set('a b c d', 3) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh === Seq("a b c", "b c d"))
  }

  test("graft_rolling_hash and graft_min_shingle_hash usable from spark.sql") {
    GraftExtensions.register(spark)
    // reference value pinned in TextFunctionsSpec: rollingHash("hello")
    val h = spark.sql("SELECT graft_rolling_hash('hello') AS h")
      .collect()(0).getLong(0)
    assert(h === 99162322L)
    val m = spark.sql(
      "SELECT graft_min_shingle_hash('a b c d', 3) AS m," +
        " graft_rolling_hash('a b c') AS ha, graft_rolling_hash('b c d') AS hb")
      .collect()(0)
    assert(m.getLong(0) === math.min(m.getLong(1), m.getLong(2)))
    assert(spark.sql("SELECT graft_min_shingle_hash('a b', 3) AS m")
      .collect()(0).isNullAt(0))
  }

  test("graft_minhash_band_keys and graft_simhash usable from spark.sql") {
    GraftExtensions.register(spark)
    val bk = spark.sql(
      "SELECT graft_minhash_band_keys('a b c d e', 3, 128, 32) AS k")
      .collect()(0).getSeq[Long](0)
    assert(bk.length === 32)
    // identical text -> identical keys (pure deterministic expression)
    val bk2 = spark.sql(
      "SELECT graft_minhash_band_keys('a b c d e', 3, 128, 32) AS k")
      .collect()(0).getSeq[Long](0)
    assert(bk === bk2)
    assert(spark.sql("SELECT graft_minhash_band_keys('a b', 3, 128, 32)")
      .collect()(0).isNullAt(0))
    val longDoc = (1 to 80).map(i => s"w$i").mkString(" ")
    val sim = spark.sql(s"SELECT graft_simhash('$longDoc', 3, 64) AS c")
      .collect()(0).getLong(0)
    assert(sim !== 0L)
    assert(spark.sql("SELECT graft_simhash('tiny doc', 3, 64)")
      .collect()(0).isNullAt(0))
  }

  test("registration is idempotent") {
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT graft_dot(array(1.0D), array(2.0D))")
      .collect()(0).getDouble(0) === 2.0)
  }

  test("maintenance SQL surface: the grammar parses to engine commands, " +
      "delegates everything else, and runs the lifecycle end to end") {
    import org.apache.spark.sql.functions._
    import graft.ext.{GraftMaintenanceCommand, GraftSqlParser}
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val p = new GraftSqlParser(spark.sessionState.sqlParser)
    // Pure delegation for ordinary SQL: same plan shape as Spark's own
    // parser (exprIds differ between parses — compare classes).
    val dp = p.parsePlan("SELECT 1 AS x")
    assert(!dp.isInstanceOf[GraftMaintenanceCommand])
    assert(dp.getClass ===
      spark.sessionState.sqlParser.parsePlan("SELECT 1 AS x").getClass)
    // The maintenance grammar parses to commands (case-insensitive,
    // backquotes tolerated).
    assert(p.parsePlan("OPTIMIZE some_tbl")
      .isInstanceOf[GraftMaintenanceCommand])
    assert(p.parsePlan("optimize `t` zorder by (`a`, b)")
      .isInstanceOf[GraftMaintenanceCommand])
    assert(p.parsePlan("RESTORE TABLE t TO VERSION AS OF 2")
      .isInstanceOf[GraftMaintenanceCommand])
    assert(p.parsePlan("VACUUM t RETAIN 1 VERSIONS")
      .isInstanceOf[GraftMaintenanceCommand])
    assert(p.parsePlan("CREATE TABLE d SHALLOW CLONE s")
      .isInstanceOf[GraftMaintenanceCommand])
    // Spark parses the DML; its plans on a single-part target map to
    // commands without touching any table (none of these exist).
    Seq("DELETE FROM t WHERE x = 1", "UPDATE t SET x = x + 1",
      "-- c\nINSERT INTO t SELECT 1", "CREATE TABLE t AS SELECT 1 AS x",
      "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE")
      .foreach(q => assert(p.parsePlan(q).isInstanceOf[GraftMaintenanceCommand], q))
    // A near-miss stays Spark's problem, not silently ours.
    assert(!p.parsePlan("CREATE TABLE d (x INT) USING parquet")
      .isInstanceOf[GraftMaintenanceCommand])
    // End to end: commit, delete twice, SQL VACUUM folds v1, SQL CLONE
    // snapshots, SQL OPTIMIZE compacts the clone — each returning its
    // (item, value) metric rows.
    val tbl = "sqlsurface_tbl"; val cln = "sqlsurface_cln"
    Seq(tbl, cln).foreach { t =>
      SnapshotCommit.destroy(spark, t)
    }
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 1000).select(col("id")).repartition(8)
        .write.parquet(dir)
    }
    SnapshotCommit.register(spark, tbl)
    DeletionVectors.delete(spark, tbl, col("id") % 7 === 0)
    DeletionVectors.delete(spark, tbl, col("id") % 5 === 0)
    DeletionVectors.delete(spark, tbl, col("id") % 11 === 0)
    val live = DeletionVectors.read(spark, tbl).count()
    // RETAIN 1 on a HWM-3 table folds versions <= 2 (cutoff = HWM - n,
    // NOT n — a direct pass-through would invert the retention window).
    val vac = GraftSqlParser.sql(spark,
      s"VACUUM $tbl RETAIN 1 VERSIONS").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(vac("vacuumed_through_version") === "2")
    assert(DeletionVectors.read(spark, tbl).count() === live,
      "SQL VACUUM changed the live view")
    // The fold is real: restoring below the floor is now impossible,
    // at the floor still works.
    intercept[Exception](DeletionVectors.restore(spark, tbl, 1))
    // RESTORE on a table with NO delete history fails loudly instead
    // of reporting a success that changed nothing.
    val bare = "sqlsurface_bare_tbl"
    SnapshotCommit.destroy(spark, bare)
    SnapshotCommit.commit(spark, bare) { dir =>
      spark.range(0, 10).select(col("id")).coalesce(1).write.parquet(dir)
    }
    intercept[Exception](GraftSqlParser.sql(spark,
      s"RESTORE TABLE $bare TO VERSION AS OF 1"))
    SnapshotCommit.destroy(spark, bare)
    GraftSqlParser.sql(spark, s"CREATE TABLE $cln SHALLOW CLONE $tbl")
    assert(DeletionVectors.read(spark, cln).count() === live)
    val m = GraftSqlParser.sql(spark, s"OPTIMIZE $cln").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("files_after").toInt <= m("files_before").toInt)
    assert(DeletionVectors.read(spark, cln).count() === live)
    Seq(tbl, cln).foreach { t =>
      SnapshotCommit.destroy(spark, t)
    }
  }

  test("MERGE SQL: upsert + sync + delete arms, duplicate-source error " +
      "before any write, DV-masked live-view target") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "merge_sql_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 10)
        .select(col("id"), (col("id") * 10).as("v"))
        .coalesce(1).write.parquet(dir)
    }
    // upsert: ids 5..14 with v = id*100 — 5 updates, 5 inserts.
    spark.range(5, 15).select(col("id"), (col("id") * 100).as("v"))
      .createOrReplaceTempView("merge_sql_src")
    GraftSqlParser.sql(spark,
      s"MERGE INTO $tbl USING merge_sql_src " +
        s"ON $tbl.id = merge_sql_src.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    SnapshotCommit.register(spark, tbl)
    val afterUpsert = spark.table(tbl).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterUpsert.size === 15)
    assert(afterUpsert(3) === 30L, "unmatched target row must keep")
    assert(afterUpsert(7) === 700L, "matched row must update")
    assert(afterUpsert(14) === 1400L, "unmatched source row must insert")

    // duplicate source keys: Delta's multiple-matches error, and the
    // table version must NOT advance (fails before any write).
    val vBefore = SnapshotCommit.register(spark, tbl).get
    spark.range(0, 2).select(lit(7L).as("id"), col("id").as("v"))
      .createOrReplaceTempView("merge_sql_dup")
    intercept[Exception](GraftSqlParser.sql(spark,
      s"MERGE INTO $tbl USING merge_sql_dup " +
        s"ON $tbl.id = merge_sql_dup.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"))
    assert(SnapshotCommit.register(spark, tbl).get === vBefore,
      "failed MERGE must not publish a version")

    // keyed delete with aliases; then DV-masked target: a DV delete
    // hides rows from the live view, and a following MERGE must merge
    // the LIVE rows, not resurrect the DV-deleted ones.
    spark.range(12, 15).select(col("id"))
      .createOrReplaceTempView("merge_sql_del")
    GraftSqlParser.sql(spark,
      s"MERGE INTO $tbl t USING merge_sql_del d ON t.id = d.id " +
        "WHEN MATCHED THEN DELETE")
    SnapshotCommit.register(spark, tbl)
    assert(spark.table(tbl).count() === 12)
    DeletionVectors.delete(spark, tbl, col("id") < 2) // DV-hide 0, 1
    spark.range(20, 22).select(col("id"), (col("id") * 7).as("v"))
      .createOrReplaceTempView("merge_sql_src2")
    GraftSqlParser.sql(spark,
      s"MERGE INTO $tbl USING merge_sql_src2 " +
        s"ON $tbl.id = merge_sql_src2.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    SnapshotCommit.register(spark, tbl)
    // Touched-file MERGE carries untouched files AND their deletion
    // vectors (Delta's shape) — the LIVE view is the contract; the DV
    // mask, not a fold-in rewrite, keeps 0 and 1 invisible.
    val ids = DeletionVectors.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(!ids.contains(0L) && !ids.contains(1L),
      "MERGE must not resurrect DV-deleted rows")
    assert(ids.contains(20L) && ids.contains(21L))
    assert(ids.size === 12) // 10 live survivors + 2 inserts

    // full sync: the source IS the desired state.
    spark.range(100, 103).select(col("id"), (col("id") + 1).as("v"))
      .createOrReplaceTempView("merge_sql_sync")
    GraftSqlParser.sql(spark,
      s"MERGE INTO $tbl USING merge_sql_sync " +
        s"ON $tbl.id = merge_sql_sync.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT * " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    SnapshotCommit.register(spark, tbl)
    assert(spark.table(tbl).select("id").collect().map(_.getLong(0)).toSet
      === Set(100L, 101L, 102L))
    SnapshotCommit.destroy(spark, tbl)
  }

  test("DESCRIBE HISTORY: one audit row per resolvable version, served " +
      "from the _meta sidecar with ZERO per-data-file status calls") {
    import org.apache.spark.sql.functions._
    import graft.ext.{GraftHistoryCommand, GraftSqlParser}
    import graft.storage.SnapshotCommit
    val tbl = "history_sql_tbl"
    SnapshotCommit.destroy(spark, tbl)
    for (i <- 1 to 3)
      SnapshotCommit.commit(spark, tbl) { dir =>
        spark.range(0, i * 10).select(col("id"))
          .coalesce(i).write.parquet(dir)
      }
    graft.storage.DeletionVectors.delete(spark, tbl, col("id") === 0)
    val calls0 = GraftHistoryCommand.legacyStatusCalls.get()
    val h = GraftSqlParser.sql(spark, s"DESCRIBE HISTORY $tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
      .sortBy(_._1)
    // CONSTANT-TIME pin: _meta-bearing versions never getFileStatus a
    // data file — a million-file table costs the same as this fixture.
    assert(GraftHistoryCommand.legacyStatusCalls.get() === calls0,
      "history over _meta-bearing versions must issue no per-file status")
    // Commit prune retains (current, current-1): older directories are
    // reaped, and HISTORY reports exactly the still-resolvable tail —
    // absence of reaped versions IS the documented semantics.
    assert(h.map(_._1).toSeq === Seq(3L, 4L))
    assert(h.count(_._7) === 1 && h.last._7, "exactly v4 is current")
    assert(h.forall(_._5 > 0), "every version reports live bytes")
    assert(h.forall(_._2 > 0), "every version reports a commit timestamp")
    assert(h.map(_._3).toSeq === Seq("WRITE", "DELETE"),
      "operations are recorded at commit time")
    assert(h.forall(_._4 === 3L), "both versions hold v3's 3 part files")
    // Bytes from _meta equal bytes from physically statting the files.
    val d = SnapshotCommit.currentLocation(spark, tbl).get
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val physical = SnapshotCommit.listData(spark, d)
      .map(fs.getFileStatus(_).getLen).sum
    assert(h.last._5 === physical, "recorded bytes must be exact")
    // A table with no published version fails loudly, not empty.
    intercept[Exception](
      GraftSqlParser.sql(spark, "DESCRIBE HISTORY history_sql_missing"))
    // DESCRIBE DETAIL: one row of table facts from the same sidecars —
    // still zero per-data-file status calls.
    val callsD = GraftHistoryCommand.legacyStatusCalls.get()
    val detail = GraftSqlParser.sql(spark, s"DESCRIBE DETAIL $tbl")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(GraftHistoryCommand.legacyStatusCalls.get() === callsD)
    assert(detail("numFiles") === "3" && detail("version") === "4")
    assert(detail("lastOperation") === "DELETE")
    assert(detail("sizeInBytes").toLong > 0)
    assert(detail("deleteVersion") === "1")
    intercept[Exception](
      GraftSqlParser.sql(spark, "DESCRIBE DETAIL history_sql_missing"))
    SnapshotCommit.destroy(spark, tbl)
  }

  test("SQL DML: DELETE FROM is a DV mark (files untouched), UPDATE is " +
      "a touched-file rewrite, VERSION AS OF reads time-travel") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "dml_sql_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 100).select(col("id"), (col("id") * 10).as("v"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.parquet(dir)
    }
    val before = SnapshotCommit
      .listData(spark, SnapshotCommit.currentLocation(spark, tbl).get)
      .map(_.getName).toSet
    // DELETE: a DV mark — live view shrinks, DATA FILES carry by name.
    GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id % 10 = 0")
    val afterDel = SnapshotCommit
      .listData(spark, SnapshotCommit.currentLocation(spark, tbl).get)
      .map(_.getName).toSet
    assert(afterDel === before, "DELETE must not rewrite any data file")
    assert(DeletionVectors.read(spark, tbl).count() === 90)
    // VERSION AS OF through plain SQL (live-session path): version 0 is
    // the pre-delete state.
    assert(GraftSqlParser.sql(spark,
      s"SELECT count(*) AS n FROM $tbl VERSION AS OF 0")
      .collect()(0).getLong(0) === 100L)
    assert(GraftSqlParser.sql(spark,
      s"SELECT count(*) AS n FROM $tbl VERSION AS OF 1")
      .collect()(0).getLong(0) === 90L)
    // The injected-parser path resolves the same node at plan level.
    val resolved = GraftSqlParser.resolveTimeTravel(spark,
      spark.sessionState.sqlParser.parsePlan(
        s"SELECT count(*) FROM $tbl VERSION AS OF 1"))
    assert(resolved.collectFirst {
      case t: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel => t
    }.isEmpty, "RelationTimeTravel must resolve against the DV history")
    // UPDATE: touched-file rewrite — ids 0..20 live in the first range
    // file(s); the rest carry by name. Updated rows take the new value,
    // DV-deleted rows stay invisible, untouched rows pass through.
    GraftSqlParser.sql(spark,
      s"UPDATE $tbl SET v = v + 1 WHERE id <= 20")
    val afterUpd = SnapshotCommit
      .listData(spark, SnapshotCommit.currentLocation(spark, tbl).get)
      .map(_.getName).toSet
    assert((afterUpd intersect before).nonEmpty,
      "UPDATE must carry untouched files by name")
    assert((before diff afterUpd).size < before.size,
      "UPDATE must rewrite only the touched subset")
    val live = DeletionVectors.read(spark, tbl).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live.size === 90)
    assert(live(7) === 71L, "matched row takes the assignment")
    assert(live(55) === 550L, "unmatched row passes through")
    assert(!live.contains(10L), "DV-deleted row stays invisible")
    // Rejections: assigning a column twice / unknown column fail loudly,
    // and a non-deterministic predicate is refused (it would evaluate
    // differently between the file probe and the rewrite — lost update).
    intercept[Exception](GraftSqlParser.sql(spark,
      s"UPDATE $tbl SET v = 1, v = 2 WHERE id = 1"))
    intercept[Exception](GraftSqlParser.sql(spark,
      s"UPDATE $tbl SET nope = 1"))
    intercept[Exception](GraftSqlParser.sql(spark,
      s"UPDATE $tbl SET v = 0 WHERE rand() < 0.5"))
    // Statement terminators parse (every reference SQL file ends in one).
    assert(GraftSqlParser.sql(spark, s"DESCRIBE HISTORY $tbl;")
      .count() >= 1)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("CREATE OR REFRESH MATERIALIZED VIEW: constraints become " +
      "expectations, FAIL UPDATE aborts keeping the prior version, " +
      "CLUSTER BY + COMMENT + TBLPROPERTIES recorded, LIVE. resolves") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    val tbl = "mv_sql_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    spark.range(0, 50).select(col("id").as("k"), (col("id") * 2).as("v"))
      .createOrReplaceTempView("mv_sql_src")
    val stmt =
      s"""CREATE OR REFRESH MATERIALIZED VIEW $tbl
         |(
         |  CONSTRAINT non_negative EXPECT (v >= 0) ON VIOLATION FAIL UPDATE,
         |  CONSTRAINT keep_small   EXPECT (v < 200) ON VIOLATION DROP ROW,
         |  CONSTRAINT informational EXPECT (k IS NOT NULL)
         |)
         |CLUSTER BY (k)
         |COMMENT "test materialized view"
         |TBLPROPERTIES (
         |  'quality' = 'gold',
         |  'delta.targetFileSize' = '268435456'
         |)
         |AS
         |SELECT k, v FROM LIVE.mv_sql_src
         |WHERE k IS NOT NULL
         |;""".stripMargin
    val out = GraftSqlParser.sql(spark, stmt).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("constraints") === "3")
    assert(out("clustered_by") === "k")
    // DROP ROW filtered v >= 200 (k >= 100 never occurs here; v < 200
    // drops k >= 100 -> none; use the row count to pin the drop arm).
    assert(spark.table(tbl).count() === 50)
    // v>=200 would be dropped: re-refresh over a wider source.
    spark.range(0, 150).select(col("id").as("k"), (col("id") * 2).as("v"))
      .createOrReplaceTempView("mv_sql_src")
    GraftSqlParser.sql(spark, stmt)
    assert(spark.table(tbl).count() === 100,
      "ON VIOLATION DROP ROW must filter violating rows on refresh")
    val props = spark.sql(s"SHOW TBLPROPERTIES $tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("quality").contains("gold"))
    // 'comment' is a RESERVED table property: the catalog stores it as
    // the table comment and SHOW TBLPROPERTIES filters it — read the
    // catalog metadata instead.
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    assert(meta.comment.contains("test materialized view") ||
      meta.properties.get("comment").contains("test materialized view"))
    // FAIL UPDATE: a violating refresh aborts BEFORE the catalog is
    // touched — the previously committed version survives intact.
    spark.range(0, 10).select(col("id").as("k"), (col("id") - 5).as("v"))
      .createOrReplaceTempView("mv_sql_src")
    intercept[Exception](GraftSqlParser.sql(spark, stmt))
    assert(spark.table(tbl).count() === 100,
      "failed refresh must keep the prior committed version")
    // Unknown header syntax fails loudly, named.
    intercept[Exception](GraftSqlParser.sql(spark,
      s"CREATE OR REFRESH MATERIALIZED VIEW $tbl PARTITIONED BY (k) " +
        "AS SELECT 1 AS k"))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("general MERGE grammar: multi-key ON, first-match conditional " +
      "clauses, explicit SET/INSERT lists; ambiguous forms rejected") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.SnapshotCommit
    val tbl = "merge_gen_tbl"
    SnapshotCommit.destroy(spark, tbl)
    // target: ids 0..29 keyed (k1 = id%10, k2 = id/10), v = id, w = "t"
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 30).select((col("id") % 10).as("k1"),
          (col("id") / 10).cast("bigint").as("k2"),
          col("id").as("v"), lit("t").as("w"))
        .coalesce(1).write.parquet(dir)
    }
    // source: ids 20..49, v = 2*id, w = "s"
    spark.range(20, 50).select((col("id") % 10).as("k1"),
        (col("id") / 10).cast("bigint").as("k2"),
        (col("id") * 2).as("v"), lit("s").as("w"))
      .createOrReplaceTempView("merge_gen_src")
    GraftSqlParser.sql(spark,
      s"""MERGE INTO $tbl t USING merge_gen_src s
         |ON t.k1 = s.k1 AND t.k2 = s.k2
         |WHEN MATCHED AND s.v >= 50 THEN UPDATE SET v = s.v + 1
         |WHEN MATCHED THEN UPDATE SET w = 'low'
         |WHEN NOT MATCHED AND s.v < 90
         |  THEN INSERT (k1, k2, v) VALUES (s.k1, s.k2, -s.v)
         |""".stripMargin)
    SnapshotCommit.register(spark, tbl)
    val rows = spark.table(tbl)
      .select((col("k2") * 10 + col("k1")).as("id"), col("v"), col("w"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toMap
    // ids 0..19: untouched. 20..24: clause 2 (w only, v kept). 25..29:
    // clause 1 FIRST-MATCH (v = 2id+1, w untouched — explicit SET must
    // not touch unnamed columns). 30..44: conditional insert, w
    // null-filled. 45..49: no insert clause holds -> dropped.
    assert(rows.size === 45)
    assert((0L to 19L).forall(i => rows(i) === (i, "t")))
    assert((20L to 24L).forall(i => rows(i) === (i, "low")))
    assert((25L to 29L).forall(i => rows(i) === (2 * i + 1, "t")))
    assert((30L to 44L).forall(i => rows(i) === (-2 * i, null)))
    assert(!(45L to 49L).exists(rows.contains))

    // Rejections — every not-understood shape fails loudly, named.
    def rejected(sql: String): Unit =
      intercept[Exception](GraftSqlParser.sql(spark, sql))
    rejected(s"MERGE INTO $tbl t USING merge_gen_src s ON t.k1 = s.k2 " +
      "WHEN MATCHED THEN DELETE") // rename-on-merge key
    rejected(s"MERGE INTO $tbl t USING merge_gen_src s ON t.k1 = s.k1 " +
      "WHEN NOT MATCHED BY SOURCE AND s.v > 0 THEN DELETE") // cond BY SOURCE
    rejected(s"MERGE INTO $tbl t USING merge_gen_src s ON t.k1 = s.k1 " +
      "WHEN MATCHED THEN UPDATE SET s.v = 1") // source-qualified lhs
    rejected(s"MERGE INTO $tbl t USING merge_gen_src s ON t.k1 = s.k1 " +
      "WHEN NOT MATCHED THEN INSERT (k1) VALUES (s.k1, s.k2)") // arity
    rejected(s"MERGE INTO $tbl t USING merge_gen_src s " +
      "ON t.k1 = s.k1 OR t.k2 = s.k2 WHEN MATCHED THEN DELETE") // OR key
    // Cardinality: duplicate source keys + a conditional clause error
    // BEFORE any write (the version must not advance).
    val vBefore = SnapshotCommit.register(spark, tbl).get
    spark.range(0, 2).select(lit(1L).as("k1"), lit(0L).as("k2"),
      col("id").as("v"), lit("d").as("w"))
      .createOrReplaceTempView("merge_gen_dup")
    rejected(s"MERGE INTO $tbl t USING merge_gen_dup s " +
      "ON t.k1 = s.k1 AND t.k2 = s.k2 " +
      "WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v")
    assert(SnapshotCommit.register(spark, tbl).get === vBefore)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("concurrent MERGEs rebase instead of erasing each other: both " +
      "sources' effects land whoever wins the claim") {
    // A MERGE is a whole-table rewrite, so a loser that replayed rows
    // derived BEFORE the race would erase the winner's merge wholesale
    // — the lost-update failure this test exists to catch. The fix:
    // the merge derives inside the staging closure, which the commit
    // protocol re-invokes after re-pointing at the winner's version.
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.SnapshotCommit
    val tbl = "merge_race_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 10).select(col("id"), (col("id") * 10).as("v"))
        .coalesce(1).write.parquet(dir)
    }
    spark.range(1000, 1005).select(col("id"), col("id").as("v"))
      .createOrReplaceTempView("merge_race_a")
    spark.range(2000, 2005).select(col("id"), col("id").as("v"))
      .createOrReplaceTempView("merge_race_b")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(GraftSqlParser.sql(spark,
      s"MERGE INTO $tbl USING merge_race_a ON $tbl.id = merge_race_a.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    val fb = Future(GraftSqlParser.sql(spark,
      s"MERGE INTO $tbl USING merge_race_b ON $tbl.id = merge_race_b.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    Await.result(fa, 120.seconds); Await.result(fb, 120.seconds)
    SnapshotCommit.register(spark, tbl)
    val ids = spark.table(tbl).select("id").collect().map(_.getLong(0)).toSet
    assert((1000L to 1004L).forall(ids.contains),
      s"merge A's rows were erased by the concurrent merge: $ids")
    assert((2000L to 2004L).forall(ids.contains),
      s"merge B's rows were erased by the concurrent merge: $ids")
    assert(ids.size === 20)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("LIVE. prefix strips outside quotes/comments only; literal " +
      "VERSION AS OF phrases are untouched and register no view") {
    import graft.ext.GraftSqlParser
    // The quote-aware scanner (ADVICE r15): literals and comments keep
    // their text; real references resolve.
    assert(GraftSqlParser.stripLivePrefix("SELECT * FROM LIVE.t") ===
      "SELECT * FROM t")
    assert(GraftSqlParser.stripLivePrefix("SELECT * FROM live . t") ===
      "SELECT * FROM t")
    assert(GraftSqlParser.stripLivePrefix("SELECT 'LIVE.x' FROM LIVE.t") ===
      "SELECT 'LIVE.x' FROM t")
    assert(GraftSqlParser.stripLivePrefix("SELECT \"LIVE.x\" FROM t") ===
      "SELECT \"LIVE.x\" FROM t")
    assert(GraftSqlParser.stripLivePrefix(
      "-- LIVE.c stays\nSELECT 1 FROM LIVE.t") ===
      "-- LIVE.c stays\nSELECT 1 FROM t")
    assert(GraftSqlParser.stripLivePrefix(
      "/* LIVE.c */ SELECT olive.x, LIVES.y FROM `LIVE.q`") ===
      "/* LIVE.c */ SELECT olive.x, LIVES.y FROM `LIVE.q`")
    // Live-session time travel: a query that merely CONTAINS the phrase
    // in a string literal runs verbatim and binds no temp view.
    spark.catalog.dropTempView("nope_asof_9")
    val out = GraftSqlParser.sql(spark,
      "SELECT 'FROM nope VERSION AS OF 9' AS s").collect()
    assert(out(0).getString(0) === "FROM nope VERSION AS OF 9")
    assert(spark.sessionState.catalog.getTempView("nope_asof_9").isEmpty,
      "a literal-only match must not register a view")
  }

  test("RESTORE TO TIMESTAMP AS OF rolls back via the _ts timeline; " +
      "ALTER TABLE SET TBLPROPERTIES lands in sidecar AND catalog") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "restore_ts_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 100).select(col("id"), (col("id") * 10).as("v"))
        .coalesce(2).write.parquet(dir)
    }
    val t0 = System.currentTimeMillis()
    val prevClock = DeletionVectors.clockMs
    try {
      DeletionVectors.clockMs = () => t0 + 1000L
      GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id % 10 = 0")
      DeletionVectors.clockMs = () => t0 + 60000L
      GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id % 7 = 0")
      assert(DeletionVectors.read(spark, tbl).count() === 100 - 10 - 15 + 2)
      // Anchor between the deletes -> restore to v1: the second
      // delete's rows come back.
      val mid = java.time.Instant.ofEpochMilli(t0 + 30000L)
        .atZone(java.time.ZoneId.of("UTC")).toLocalDateTime.toString
        .replace('T', ' ')
      val out = GraftSqlParser.sql(spark,
        s"RESTORE TABLE $tbl TO TIMESTAMP AS OF '$mid'").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out("restored_to_version") === "1")
      assert(DeletionVectors.read(spark, tbl).count() === 90)
    } finally DeletionVectors.clockMs = prevClock
    // SET TBLPROPERTIES: sidecar (what OPTIMIZE consults) + catalog.
    GraftSqlParser.sql(spark, s"ALTER TABLE $tbl SET TBLPROPERTIES " +
      "('delta.targetFileSize' = '1024', 'quality' = 'silver')")
    val side = SnapshotCommit.properties(spark, tbl)
    assert(side.get("delta.targetFileSize").contains("1024"))
    assert(side.get("quality").contains("silver"))
    val cat = spark.sql(s"SHOW TBLPROPERTIES $tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cat.get("quality").contains("silver"))
    // Spark's property grammar: unquoted keys and non-string values are
    // pairs; a key without a value or a reserved key is a parse error.
    GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl SET TBLPROPERTIES ('k' = true, bad = 1)")
    val side2 = SnapshotCommit.properties(spark, tbl)
    assert(side2.get("k").contains("true") && side2.get("bad").contains("1"),
      s"got $side2")
    intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl SET TBLPROPERTIES (bad)"))
    intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl SET TBLPROPERTIES ('location' = '/elsewhere')"))
    assert(!SnapshotCommit.properties(spark, tbl).contains("location"))
    SnapshotCommit.destroy(spark, tbl)
  }

  test("TIMESTAMP AS OF: latest delete version <= ts (Delta's rule) on " +
      "both wiring paths; loud before the first commit; VACUUM RETAIN " +
      "n HOURS folds only versions outside the window") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "ts_asof_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 100).select(col("id"), (col("id") * 10).as("v"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.parquet(dir)
    }
    // Injected clocks AFTER the real creation instant (the before-first
    // check compares against the _incarnation marker's mtime).
    val t0 = System.currentTimeMillis()
    val tV1 = t0 + 1000L
    val tV2 = t0 + 8L * 3600 * 1000 // 8h later
    val prevClock = DeletionVectors.clockMs
    try {
      DeletionVectors.clockMs = () => tV1
      GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id % 10 = 0")
      DeletionVectors.clockMs = () => tV2
      GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id % 7 = 0")
      // Resolution: before v1 (but after creation) -> 0; between -> 1;
      // at/after v2 -> 2.
      assert(DeletionVectors.versionAtTimestamp(spark, tbl, tV1 - 1) === 0)
      assert(DeletionVectors.versionAtTimestamp(spark, tbl, tV1) === 1)
      assert(DeletionVectors.versionAtTimestamp(spark, tbl,
        tV2 - 1000) === 1)
      assert(DeletionVectors.versionAtTimestamp(spark, tbl,
        tV2 + 1000) === 2)
      // Before the table existed: loud.
      intercept[Exception](
        DeletionVectors.versionAtTimestamp(spark, tbl, t0 - 3600_000L))
      // Live-session SQL path (the u14 wiring).
      def fmt(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
        .atZone(java.time.ZoneId.of("UTC")).toLocalDateTime.toString
        .replace('T', ' ')
      assert(GraftSqlParser.sql(spark,
        s"SELECT count(*) AS n FROM $tbl TIMESTAMP AS OF '${fmt(tV2 - 60000)}'")
        .collect()(0).getLong(0) === 90L)
      // Injected-parser path: the RelationTimeTravel node resolves.
      val resolved = GraftSqlParser.resolveTimeTravel(spark,
        spark.sessionState.sqlParser.parsePlan(
          s"SELECT count(*) FROM $tbl TIMESTAMP AS OF '${fmt(tV1 + 60000)}'"))
      assert(resolved.collectFirst {
        case t: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel => t
      }.isEmpty, "TIMESTAMP AS OF must resolve against the _ts timeline")
      // VACUUM RETAIN 9 HOURS at now = t0 + 10h: v1 (10h old) folds,
      // v2 (2h old) survives with its timestamp anchor.
      DeletionVectors.clockMs = () => t0 + 10L * 3600 * 1000
      val out = GraftSqlParser.sql(spark,
        s"VACUUM $tbl RETAIN 9 HOURS").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out("vacuumed_through_version") === "1")
      // Live view unchanged; v1's state is now the floor; v2 anchor kept.
      assert(DeletionVectors.read(spark, tbl).count() === 77L)
      // The change feed errors below the floor and still answers above
      // it (r17: out-of-range/folded ranges fail loudly, never partial).
      val eFloor = intercept[Exception](GraftSqlParser.sql(spark,
        s"SELECT * FROM table_changes('$tbl', 0, 2)").collect())
      assert(eFloor.getMessage.contains("folded"), eFloor.getMessage)
      assert(GraftSqlParser.sql(spark,
        s"SELECT count(*) AS n FROM table_changes('$tbl', 1, 2)")
        .collect()(0).getLong(0) === 13L,
        "v2's delete rows (%7, minus the %70 overlap already dead) " +
          "survive the fold above the floor")
      assert(DeletionVectors.versionAtTimestamp(spark, tbl,
        tV2 + 1000) === 2)
      assert(DeletionVectors.versionAtTimestamp(spark, tbl,
        tV2 - 1000) === 1,
        "the cutoff's anchor survives the fold — it IS the floor state")
      intercept[Exception](DeletionVectors.restore(spark, tbl, 0))
      // A FULL fold (cutoff == hwm) must keep TIMESTAMP AS OF working:
      // the restated _hwm stays paired with its _ts anchor.
      DeletionVectors.clockMs = () => t0 + 20L * 3600 * 1000
      GraftSqlParser.sql(spark, s"VACUUM $tbl RETAIN 9 HOURS")
      assert(DeletionVectors.versionAtTimestamp(spark, tbl,
        t0 + 20L * 3600 * 1000) === 2,
        "a fully-vacuumed table still resolves current timestamps")
    } finally DeletionVectors.clockMs = prevClock
    SnapshotCommit.destroy(spark, tbl)
  }

  test("table_changes TVF: the delete feed between two versions, first-" +
      "delete semantics, both wiring paths") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "tcf_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 100).select(col("id"), (col("id") * 10).as("v"))
        .coalesce(2).write.parquet(dir)
    }
    DeletionVectors.delete(spark, tbl, col("id") % 7 === 0)  // v1: 15 rows
    DeletionVectors.delete(spark, tbl, col("id") % 5 === 0)  // v2: %5∖%7=17
    // (1, 2]: only rows FIRST deleted at v2 — %5 minus the %35 overlap.
    val feed = GraftSqlParser.sql(spark,
      s"SELECT id, v, change_type, commit_version " +
        s"FROM table_changes('$tbl', 1, 2)").collect()
    assert(feed.length === 17)
    assert(feed.forall(_.getString(2) === "delete"))
    assert(feed.forall(_.getLong(3) === 2L))
    assert(feed.map(_.getLong(0)).forall(id => id % 5 == 0 && id % 7 != 0))
    // (0, 2]: both versions' removals, each stamped with its FIRST
    // deleting version (re-deletes collapse).
    val all = GraftSqlParser.sql(spark,
      s"SELECT commit_version, count(*) AS n " +
        s"FROM table_changes('$tbl', 0, 2) GROUP BY 1 ORDER BY 1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all === Map(1L -> 15L, 2L -> 17L))
    // Injected-parser path: the TVF node resolves at plan level.
    val resolved = GraftSqlParser.resolveTimeTravel(spark,
      spark.sessionState.sqlParser.parsePlan(
        s"SELECT count(*) FROM table_changes('$tbl', 0, 2)"))
    assert(resolved.collectFirst {
      case t: org.apache.spark.sql.catalyst.analysis
          .UnresolvedTableValuedFunction => t
    }.isEmpty, "table_changes must resolve against the change feed")
    // A literal-only occurrence is untouched.
    assert(GraftSqlParser.sql(spark,
      s"SELECT 'table_changes(''x'', 1, 2)' AS s").collect()(0)
      .getString(0) === "table_changes('x', 1, 2)")
    // RESTORE rolls v2's delete entries away — its span of the feed
    // must fail loudly (r17), never silently answer zero rows; the
    // surviving v1 span still answers.
    DeletionVectors.restore(spark, tbl, 1)
    val eRestored = intercept[Exception](GraftSqlParser.sql(spark,
      s"SELECT * FROM table_changes('$tbl', 1, 2)").collect())
    assert(eRestored.getMessage.contains("rolled back"),
      eRestored.getMessage)
    assert(GraftSqlParser.sql(spark,
      s"SELECT count(*) AS n FROM table_changes('$tbl', 0, 1)")
      .collect()(0).getLong(0) === 15L)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("change-feed MODEL test (r17): a seeded random INSERT/DELETE/" +
      "UPDATE sequence replays exactly from table_changes over every " +
      "range, and the live view matches the model") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "tcf_model_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    GraftSqlParser.sql(spark, s"CREATE TABLE $tbl AS " +
      "SELECT id, CAST(id * 10 AS BIGINT) AS v FROM range(0, 30)")
    GraftSqlParser.sql(spark, s"ALTER TABLE $tbl SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')")
    val rnd = new scala.util.Random(42)
    // Model: id -> live value; inserted ids use fresh >=1000 blocks so
    // UPDATEs (restricted to the CTAS id range) never rewrite a file an
    // _add: sentinel names, and DELETEs (restricted to inserted ids)
    // never put coordinates where an UPDATE's rewrite would drop them —
    // the op mix keeps every feed range answerable, which is what lets
    // the model assert equality instead of refusal.
    val live = scala.collection.mutable.Map[Long, Long]()
    (0L until 30L).foreach(id => live(id) = id * 10)
    var nextId = 1000L
    // (commit_version, change_type, id, value)
    val expected = scala.collection.mutable.ArrayBuffer[
      (Long, String, Long, Long)]()
    val steps = 9
    for (step <- 1 to steps) {
      val undeletedInserts = live.keys.filter(_ >= 1000L).toSeq.sorted
      rnd.nextInt(3) match {
        case 0 => // INSERT a fresh block
          val n = 2 + rnd.nextInt(3)
          val ids = (nextId until nextId + n).toSeq
          nextId += n + 10
          ids.foreach { id =>
            live(id) = id * 7
            expected += ((step.toLong, "insert", id, id * 7))
          }
          GraftSqlParser.sql(spark, s"INSERT INTO $tbl SELECT id, " +
            s"CAST(id * 7 AS BIGINT) AS v FROM range(${ids.head}, " +
            s"${ids.last + 1})")
        case 1 if undeletedInserts.nonEmpty => // DELETE some inserted ids
          val picks = rnd.shuffle(undeletedInserts)
            .take(1 + rnd.nextInt(2))
          picks.foreach { id =>
            expected += ((step.toLong, "delete", id, live(id)))
            live.remove(id)
          }
          GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id IN " +
            s"(${picks.mkString(",")})")
        case _ => // UPDATE a CTAS-range slice
          val m = 2 + rnd.nextInt(4)
          val delta = 1000L * step
          val hit = live.keys.filter(id => id < 30 && id % m == 0)
            .toSeq.sorted
          hit.foreach { id =>
            expected += ((step.toLong, "update_preimage", id, live(id)))
            live(id) = live(id) + delta
            expected += ((step.toLong, "update_postimage", id, live(id)))
          }
          GraftSqlParser.sql(spark, s"UPDATE $tbl SET v = v + $delta " +
            s"WHERE id < 30 AND id % $m = 0")
      }
    }
    def feed(a: Long, b: Long): Set[(Long, String, Long, Long)] =
      GraftSqlParser.sql(spark, s"SELECT id, v, change_type, " +
        s"commit_version FROM table_changes('$tbl', $a, $b)")
        .collect().map(r => (r.getLong(3), r.getString(2),
          r.getLong(0), r.getLong(1))).toSet
    for ((a, b) <- Seq((0L, steps.toLong), (0L, 4L), (3L, 7L),
        (steps - 1L, steps.toLong))) {
      val want = expected.filter(e => e._1 > a && e._1 <= b).toSet
      assert(feed(a, b) === want,
        s"range ($a, $b]: feed must equal the model")
    }
    val liveRows = DeletionVectors.read(spark, tbl)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(liveRows === live.toMap, "the live view must match the model")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("MERGE with a NON-DETERMINISTIC source evaluates it once: the " +
      "probe, dup-check and rewrite see the same keys — no lost rows " +
      "(r17 ADVICE pin)") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit, StatsSkipping}
    val tbl = "merge_nd_tbl"
    SnapshotCommit.destroy(spark, tbl)
    // Stats present so sourceKeyRange RUNS (the advice's hazard: its
    // extra evaluation of an unpinned source could derive bounds that
    // miss the keys the later probe/rewrite see, silently dropping the
    // displaced target rows from the carried files).
    StatsSkipping.commitWithStats(spark, tbl, "id") { dir =>
      spark.range(0, 1000).select(col("id"), (col("id") * 10).as("v"))
        .repartitionByRange(8, col("id")).sortWithinPartitions("id")
        .write.parquet(dir)
    }
    for (round <- 1 to 3) {
      spark.range(0, 1000).filter(rand() < 0.3)
        .select(col("id"), lit(-1L).as("v"))
        .createOrReplaceTempView("merge_nd_src")
      GraftSqlParser.sql(spark,
        s"MERGE INTO $tbl USING merge_nd_src " +
          s"ON $tbl.id = merge_nd_src.id " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
      SnapshotCommit.register(spark, tbl)
      val rows = DeletionVectors.read(spark, tbl)
        .select("id").collect().map(_.getLong(0))
      assert(rows.length === 1000,
        s"round $round: a key probed under one sample but absent from " +
          s"the rewrite's sample drops its row — got ${rows.length}/1000")
      assert(rows.toSet === (0L until 1000L).toSet,
        s"round $round: key set must be stable")
    }
    SnapshotCommit.destroy(spark, tbl)
  }

  test("ALTER TABLE ADD COLUMNS (r17): metadata-only widening, ledger-" +
      "backed time travel, null-filled old files, delegate for plain " +
      "tables, loud on duplicates") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "addcol_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    GraftSqlParser.sql(spark, s"CREATE TABLE $tbl AS " +
      "SELECT id, CAST(id * 10 AS BIGINT) AS v FROM range(0, 20)")
    val filesBefore = SnapshotCommit.dataFiles(spark, tbl)
      .map(_._1).toSet
    GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl ADD COLUMNS (note STRING, score DOUBLE)")
    // Metadata-only: every data file carried by name.
    assert(SnapshotCommit.dataFiles(spark, tbl).map(_._1).toSet ===
      filesBefore, "ADD COLUMNS must not rewrite data files")
    // Old rows null-fill; the catalog serves the widened schema.
    val live = spark.table(tbl)
    assert(live.columns.toSeq === Seq("id", "v", "note", "score"))
    assert(live.filter(col("note").isNull).count() === 20)
    // Writes fill the new columns; old files stay null.
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl " +
      "SELECT id, id * 10, 'late', CAST(id AS DOUBLE) " +
      "FROM range(20, 25)")
    SnapshotCommit.register(spark, tbl)
    assert(spark.table(tbl).filter(col("note") === "late").count() === 5)
    assert(spark.table(tbl).count() === 25)
    // Time travel BELOW the alter serves the original schema.
    val v0 = GraftSqlParser.sql(spark, s"SELECT * FROM $tbl VERSION AS OF 0")
    assert(v0.columns.toSeq === Seq("id", "v"))
    val v1 = GraftSqlParser.sql(spark, s"SELECT * FROM $tbl VERSION AS OF 1")
    assert(v1.columns.toSeq === Seq("id", "v", "note", "score"),
      "at the alter version the widened schema is live")
    // DML still composes on the widened table.
    GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id = 3")
    assert(DeletionVectors.read(spark, tbl).count() === 24)
    // Duplicate column: loud.
    val dup = intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl ADD COLUMNS (v INT)"))
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    // Clauses the ledger commit cannot honour: loud, naming the clause.
    for ((clause, named) <- Seq("FIRST" -> "FIRST/AFTER",
        "AFTER v" -> "FIRST/AFTER", "DEFAULT 5" -> "DEFAULT")) {
      val e = intercept[Exception](GraftSqlParser.sql(spark,
        s"ALTER TABLE $tbl ADD COLUMN y INT $clause"))
      assert(e.getMessage.contains(named), e.getMessage)
    }
    assert(!spark.table(tbl).columns.contains("y"))
    // OPTIMIZE folds the delete. A second OPTIMIZE finds no deletion
    // vector but the schema ledger, and still rewrites the same rows
    // under the same schema.
    def state() = {
      val df = DeletionVectors.read(spark, tbl)
      (df.schema.map(f => f.name -> f.dataType),
        df.collect().map(_.toSeq).toSet)
    }
    val before = state()
    for (round <- 1 to 2) {
      GraftSqlParser.sql(spark, s"OPTIMIZE $tbl").collect()
      assert(state() === before, s"OPTIMIZE $round changed the table")
      assert(spark.table(tbl).schema.map(f => f.name -> f.dataType) ===
        before._1)
      assert(DeletionVectors.version(spark, tbl) === 0L)
      assert(SnapshotCommit.schemaVersions(spark, tbl).nonEmpty)
    }
    // Plain catalog tables delegate to Spark's own ALTER.
    val plain = "addcol_plain_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $plain")
    graft.core.CatalogUtil.dropOrphanLocation(spark, plain)
    spark.sql(s"CREATE TABLE $plain (a INT) USING parquet")
    spark.sql(s"INSERT INTO $plain VALUES (1)")
    GraftSqlParser.sql(spark, s"ALTER TABLE $plain ADD COLUMNS (b STRING)")
    assert(spark.table(plain).columns.toSeq === Seq("a", "b"))
    spark.sql(s"DROP TABLE IF EXISTS $plain")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("table_changes FULL feed (r17): an INSERT/DELETE/UPDATE " +
      "lifecycle serves insert rows, delete rows and update images " +
      "with correct commit_versions; loud on MERGE versions, " +
      "out-of-range, and rewritten-away spans") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "tcf_full_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    GraftSqlParser.sql(spark, s"CREATE TABLE $tbl AS " +
      "SELECT id, CAST(id * 10 AS BIGINT) AS v FROM range(0, 20)")
    // v1: INSERT (the _add: sentinels name its files).
    // One slice -> ONE inserted file: the deleted rows' coordinates
    // and the later-merged key deterministically share it.
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl " +
      "SELECT id, CAST(id * 10 AS BIGINT) AS v FROM range(20, 30, 1, 1)")
    // v2: DELETE two of the INSERTED rows (dead coords live only in
    // the insert's files, so the later UPDATE of a CTAS row drops no
    // delete history).
    GraftSqlParser.sql(spark,
      s"DELETE FROM $tbl WHERE id = 21 OR id = 22")
    // v3: UPDATE one CTAS row — pre/post images recorded (the table
    // opts into image recording first, Delta's enableChangeDataFeed).
    GraftSqlParser.sql(spark, s"ALTER TABLE $tbl SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')")
    GraftSqlParser.sql(spark, s"UPDATE $tbl SET v = 777 WHERE id = 7")
    val feed = GraftSqlParser.sql(spark,
      s"SELECT id, v, change_type, commit_version " +
        s"FROM table_changes('$tbl', 0, 3)").collect()
    val byType = feed.groupBy(_.getString(2))
    val ins = byType.getOrElse("insert", Array.empty)
    assert(ins.length === 10, s"10 inserted rows, got ${ins.length}")
    assert(ins.forall(_.getLong(3) === 1L), "insert commit_version = 1")
    assert(ins.map(_.getLong(0)).toSet === (20L until 30L).toSet,
      "rows AS INSERTED — including the ones deleted later")
    assert(ins.forall(r => r.getLong(1) === r.getLong(0) * 10))
    val dels = byType.getOrElse("delete", Array.empty)
    assert(dels.map(_.getLong(0)).toSet === Set(21L, 22L))
    assert(dels.forall(_.getLong(3) === 2L))
    val pre = byType.getOrElse("update_preimage", Array.empty)
    val post = byType.getOrElse("update_postimage", Array.empty)
    assert(pre.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((7L, 70L)), "preimage = the pre-update row")
    assert(post.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((7L, 777L)), "postimage = the post-update row")
    assert((pre ++ post).forall(_.getLong(3) === 3L))
    // A sub-range excludes the versions outside it.
    val sub = GraftSqlParser.sql(spark,
      s"SELECT change_type, count(*) AS n " +
        s"FROM table_changes('$tbl', 1, 3) GROUP BY 1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sub === Map("delete" -> 2L, "update_preimage" -> 1L,
      "update_postimage" -> 1L))
    // Time travel is unaffected by the stamps (sentinels mask nothing).
    assert(GraftSqlParser.sql(spark,
      s"SELECT count(*) AS n FROM $tbl VERSION AS OF 0")
      .collect()(0).getLong(0) === 30L)
    // LOUD: beyond the latest change version.
    val e1 = intercept[Exception](GraftSqlParser.sql(spark,
      s"SELECT * FROM table_changes('$tbl', 0, 99)").collect())
    assert(e1.getMessage.contains("beyond"), e1.getMessage)
    // LOUD: with the property OFF, a MERGE consumes v4 unrecorded.
    GraftSqlParser.sql(spark, s"ALTER TABLE $tbl SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'false')")
    spark.range(3, 4).select(col("id"),
      lit(-1L).as("v")).createOrReplaceTempView("tcf_full_src")
    GraftSqlParser.sql(spark, s"MERGE INTO $tbl USING tcf_full_src " +
      s"ON $tbl.id = tcf_full_src.id " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val e2 = intercept[Exception](GraftSqlParser.sql(spark,
      s"SELECT * FROM table_changes('$tbl', 3, 4)").collect())
    assert(e2.getMessage.contains("WITHOUT change-data-feed"),
      e2.getMessage)
    // The earlier range still answers (the merge touched only a CTAS
    // file that carried no delete coordinates or _add sentinel).
    assert(GraftSqlParser.sql(spark,
      s"SELECT count(*) AS n FROM table_changes('$tbl', 1, 3)")
      .collect()(0).getLong(0) === 4L)
    // With the property back ON, a MERGE records full images: an
    // update pair for the matched key, an insert row for the new one.
    GraftSqlParser.sql(spark, s"ALTER TABLE $tbl SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')")
    spark.createDataFrame(Seq((4L, -4L), (900L, -9L))).toDF("id", "v")
      .createOrReplaceTempView("tcf_full_src3")
    GraftSqlParser.sql(spark, s"MERGE INTO $tbl USING tcf_full_src3 " +
      s"ON $tbl.id = tcf_full_src3.id " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val mergeFeed = GraftSqlParser.sql(spark,
      s"SELECT id, v, change_type FROM table_changes('$tbl', 4, 5)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(mergeFeed === Set((4L, 40L, "update_preimage"),
      (4L, -4L, "update_postimage"), (900L, -9L, "insert")),
      s"merge images must serve update pair + insert, got $mergeFeed")
    // A MATCHED-DELETE merge records the removed rows' pre-images.
    spark.range(5, 6).select(col("id"))
      .createOrReplaceTempView("tcf_full_src4")
    GraftSqlParser.sql(spark, s"MERGE INTO $tbl USING tcf_full_src4 " +
      s"ON $tbl.id = tcf_full_src4.id WHEN MATCHED THEN DELETE")
    val delFeed = GraftSqlParser.sql(spark,
      s"SELECT id, v, change_type FROM table_changes('$tbl', 5, 6)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(delFeed === Set((5L, 50L, "delete")),
      s"a matched-delete merge feeds its pre-images, got $delFeed")
    // LOUD: a MERGE that rewrites the INSERTED file (which holds the
    // deleted rows' coordinates) makes both the insert span (file
    // gone) and the delete span (coords dropped, marked _lost:) fail
    // instead of under-reporting.
    spark.range(25, 26).select(col("id"),
      lit(-2L).as("v")).createOrReplaceTempView("tcf_full_src2")
    GraftSqlParser.sql(spark, s"MERGE INTO $tbl USING tcf_full_src2 " +
      s"ON $tbl.id = tcf_full_src2.id " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val e3 = intercept[Exception](GraftSqlParser.sql(spark,
      s"SELECT * FROM table_changes('$tbl', 0, 1)").collect())
    assert(e3.getMessage.contains("rewritten"), e3.getMessage)
    val e4 = intercept[Exception](GraftSqlParser.sql(spark,
      s"SELECT * FROM table_changes('$tbl', 1, 2)").collect())
    assert(e4.getMessage.contains("rewritten away by a later"),
      e4.getMessage)
    // The UPDATE images still answer on their own span.
    assert(GraftSqlParser.sql(spark,
      s"SELECT count(*) AS n FROM table_changes('$tbl', 2, 3)")
      .collect()(0).getLong(0) === 2L)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("table_changes TIMESTAMP bounds (r17): a start instant serves " +
      "commits at-or-after it, an end instant at-or-before; a start " +
      "past the latest change commit is loud") {
    import graft.ext.GraftSqlParser
    import graft.storage.SnapshotCommit
    val tbl = "tc_ts_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    def fmt(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneId.of(
        spark.conf.get("spark.sql.session.timeZone", "UTC")))
      .toLocalDateTime.toString.replace('T', ' ')
    GraftSqlParser.sql(spark, s"CREATE TABLE $tbl AS " +
      "SELECT id, CAST(id * 10 AS BIGINT) AS v FROM range(0, 20)")
    Thread.sleep(5)
    // v1: DELETE; mid anchor; v2: INSERT — each commit strictly
    // separated on the `_ts:` timeline.
    GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id = 3")
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl " +
      "SELECT id, CAST(0 AS BIGINT) FROM range(100, 103)")
    Thread.sleep(5)
    val end = System.currentTimeMillis()
    // (mid, end] on the timeline = exactly v2's inserts.
    val lateFeed = GraftSqlParser.sql(spark,
      s"SELECT change_type, commit_version FROM " +
        s"table_changes('$tbl', '${fmt(mid)}', '${fmt(end)}')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(lateFeed === Set(("insert", 2L)),
      s"start-instant bound must serve only v2, got $lateFeed")
    // Mixed forms: version start, timestamp end = (0, v1].
    val earlyFeed = GraftSqlParser.sql(spark,
      s"SELECT change_type, commit_version FROM " +
        s"table_changes('$tbl', 0, '${fmt(mid)}')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(earlyFeed === Set(("delete", 1L)),
      s"end-instant bound must cut at v1, got $earlyFeed")
    // A start past the latest change commit: loud, Delta's rule.
    val future = fmt(System.currentTimeMillis() + 60000)
    val e = intercept[Exception](GraftSqlParser.sql(spark,
      s"SELECT * FROM table_changes('$tbl', '$future', '$future')")
      .collect())
    assert(e.getMessage.contains("after the latest change commit"),
      e.getMessage)
    // Garbage bound: loud, names the problem.
    val g = intercept[Exception](GraftSqlParser.sql(spark,
      s"SELECT * FROM table_changes('$tbl', 'not a time', 1)"))
    assert(g.getMessage.contains("neither a version number nor a " +
      "parseable timestamp"), g.getMessage)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("CTAS + INSERT INTO commit through the snapshot protocol: " +
      "versioned, stats-skipping and DV-safe out of the box") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit, StatsSkipping}
    val tbl = "ctas_tbl"
    SnapshotCommit.destroy(spark, tbl)
    GraftSqlParser.sql(spark,
      s"CREATE TABLE $tbl AS SELECT id, id * 2 AS v FROM range(100)")
    assert(spark.table(tbl).count() === 100)
    // Versioned from birth: history serves, stats sidecar answers a
    // range probe with a strict file subset (range() splits are
    // contiguous, so per-file id ranges are disjoint).
    assert(GraftSqlParser.sql(spark, s"DESCRIBE HISTORY $tbl").count() >= 1)
    val allFiles = SnapshotCommit.dataFiles(spark, tbl).size
    if (allFiles > 1)
      assert(StatsSkipping.survivingFiles(spark, tbl, "id", 5L, 10L).size
        < allFiles, "CTAS must record per-file stats")
    // Plain CREATE on an existing table: loud; OR REPLACE: a new version.
    intercept[Exception](GraftSqlParser.sql(spark,
      s"CREATE TABLE $tbl AS SELECT 1 AS x"))
    GraftSqlParser.sql(spark, s"CREATE OR REPLACE TABLE $tbl AS " +
      "SELECT id, id * 3 AS v FROM range(150)")
    assert(spark.table(tbl).count() === 150)
    assert(GraftSqlParser.sql(spark, s"DESCRIBE HISTORY $tbl").count() >= 2)
    // INSERT: an append commit — previous files carry BY NAME.
    val before = SnapshotCommit.dataFiles(spark, tbl).map(_._1).toSet
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl " +
      "SELECT id, id * 3 AS v FROM range(150, 200)")
    val after = SnapshotCommit.dataFiles(spark, tbl).map(_._1).toSet
    assert(before.subsetOf(after), "INSERT must carry previous files")
    assert(spark.table(tbl).count() === 200)
    // Positional alignment with cast; arity mismatch is loud.
    intercept[Exception](GraftSqlParser.sql(spark,
      s"INSERT INTO $tbl SELECT id FROM range(5)"))
    // COLUMN LIST: named columns align, unnamed null-fill (Spark's
    // semantics) — on the versioned surface this is still a commit.
    GraftSqlParser.sql(spark,
      s"INSERT INTO $tbl (id) VALUES (90001)")
    assert(spark.table(tbl).filter(col("id") === 90001L &&
      col("v").isNull).count() === 1)
    // Parenthesized query body (Spark's grammar) is a query, not a
    // column list.
    GraftSqlParser.sql(spark,
      s"INSERT INTO $tbl (SELECT 90002, 1)")
    assert(spark.table(tbl).filter(col("id") === 90002L).count() === 1)
    intercept[Exception](GraftSqlParser.sql(spark,
      s"INSERT INTO $tbl (id, id) VALUES (1, 2)")) // repeated column
    // PLAIN-CATALOG fallback: an empty CREATE TABLE target (nothing to
    // adopt) takes Spark's own insert — the basic DDL+INSERT flow must
    // keep working through the injected surface (review r16).
    val plain = "ins_plain_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $plain")
    graft.core.CatalogUtil.dropOrphanLocation(spark, plain)
    spark.sql(s"CREATE TABLE $plain (id BIGINT, v BIGINT) USING parquet")
    GraftSqlParser.sql(spark, s"INSERT INTO $plain VALUES (1, 2)")
    assert(graft.storage.SnapshotCommit.currentVersion(spark, plain)
      .isEmpty, "an EMPTY plain table delegates (nothing to adopt)")
    // Once files exist the next INSERT adopts the table into the
    // versioned surface (the Delta CONVERT shape) and appends.
    GraftSqlParser.sql(spark, s"INSERT INTO $plain (v, id) SELECT 9, 5")
    assert(graft.storage.SnapshotCommit.currentVersion(spark, plain)
      .isDefined, "a file-bearing plain table adopts on INSERT")
    graft.storage.SnapshotCommit.register(spark, plain)
    assert(spark.table(plain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (5L, 9L)))
    graft.storage.SnapshotCommit.destroy(spark, plain)
    // VALUES body; DV mask survives a later INSERT.
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl VALUES (1000, 1)")
    assert(spark.table(tbl).count() === 203) // 200 + 2 col-list rows + 1
    GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id = 1000")
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl VALUES (1001, 2)")
    val live = DeletionVectors.read(spark, tbl)
    assert(live.filter(col("id") === 1000).count() === 0,
      "INSERT must carry the DV sidecar — deleted rows stay deleted")
    assert(live.filter(col("id") === 1001).count() === 1)
    // Time travel works on the CTAS'd table's delete axis.
    assert(GraftSqlParser.sql(spark,
      s"SELECT count(*) AS n FROM $tbl VERSION AS OF 0")
      .collect()(0).getLong(0) === 204L)
    // INSERT OVERWRITE: a full-replace version under the same schema —
    // nothing carries (the DV goes with the files it described), stats
    // recompute, history keeps growing.
    val histBefore = GraftSqlParser.sql(spark,
      s"DESCRIBE HISTORY $tbl").count()
    GraftSqlParser.sql(spark,
      s"INSERT OVERWRITE $tbl SELECT id, id * 7 AS v FROM range(40)")
    assert(spark.table(tbl).count() === 40)
    assert(DeletionVectors.read(spark, tbl).count() === 40,
      "the replaced files' DV entries must not survive the overwrite")
    assert(GraftSqlParser.sql(spark, s"DESCRIBE HISTORY $tbl").count()
      >= histBefore, "overwrite is a version, not a destroy")
    val ovFiles = SnapshotCommit.dataFiles(spark, tbl).size
    if (ovFiles > 1)
      assert(StatsSkipping.survivingFiles(spark, tbl, "id", 1L, 3L).size
        < ovFiles, "INSERT OVERWRITE must recompute per-file stats")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("CHECK constraints (r17): history validated at ADD, every " +
      "versioned write enforced, NULLs pass, DROP lifts the gate") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "check_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    GraftSqlParser.sql(spark, s"CREATE TABLE $tbl AS " +
      "SELECT id, CAST(id * 10 AS BIGINT) AS v FROM range(1, 21)")
    // ADD validates history: a constraint the existing rows violate
    // must fail and record nothing.
    val eh = intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl ADD CONSTRAINT v_small CHECK (v < 100)"))
    assert(eh.getMessage.contains("existing row violates"),
      eh.getMessage)
    assert(SnapshotCommit.properties(spark, tbl)
      .get("delta.constraints.v_small").isEmpty)
    GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl ADD CONSTRAINT v_pos CHECK (v > 0)")
    assert(SnapshotCommit.properties(spark, tbl)
      .get("delta.constraints.v_pos").contains("v > 0"))
    // Duplicate name: loud.
    intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl ADD CONSTRAINT v_pos CHECK (v > 1)"))
    // INSERT: a violating statement aborts committing nothing.
    val before = DeletionVectors.read(spark, tbl).count()
    val e1 = intercept[Exception](GraftSqlParser.sql(spark,
      s"INSERT INTO $tbl VALUES (100, 5), (101, -1)"))
    assert(e1.getMessage.contains("v_pos"), e1.getMessage)
    assert(DeletionVectors.read(spark, tbl).count() === before,
      "aborted INSERT must publish nothing")
    // NULL passes (SQL CHECK rule) and a clean insert commits.
    GraftSqlParser.sql(spark,
      s"INSERT INTO $tbl (id) VALUES (200)")
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl VALUES (201, 7)")
    // UPDATE: assignments that would break the check abort.
    val e2 = intercept[Exception](GraftSqlParser.sql(spark,
      s"UPDATE $tbl SET v = -5 WHERE id = 3"))
    assert(e2.getMessage.contains("v_pos"), e2.getMessage)
    assert(DeletionVectors.read(spark, tbl)
      .filter(col("id") === 3 && col("v") === 30L).count() === 1,
      "aborted UPDATE must leave the row untouched")
    // MERGE: a violating inserted/updated row aborts the merge.
    spark.range(3, 4).select(col("id"), lit(-9L).as("v"))
      .createOrReplaceTempView("check_src")
    val e3 = intercept[Exception](GraftSqlParser.sql(spark,
      s"MERGE INTO $tbl USING check_src ON $tbl.id = check_src.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"))
    assert(e3.getMessage.contains("v_pos"), e3.getMessage)
    // COPY INTO: staged files that violate abort before any load.
    val copyDir = SparkSpec.tempDir("check_copy").toString
    spark.range(300, 303).select(col("id"), lit(-1L).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(copyDir)
    val e4 = intercept[Exception](GraftSqlParser.sql(spark,
      s"COPY INTO $tbl FROM '$copyDir' FILEFORMAT = PARQUET"))
    assert(e4.getMessage.contains("v_pos"), e4.getMessage)
    // DROP lifts the gate; IF EXISTS tolerates absence.
    GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl DROP CONSTRAINT v_pos")
    intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl DROP CONSTRAINT v_pos"))
    GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl DROP CONSTRAINT IF EXISTS v_pos")
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl VALUES (101, -1)")
    assert(DeletionVectors.read(spark, tbl)
      .filter(col("v") === -1L).count() === 1)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("ALTER TABLE CLUSTER BY + VACUUM DRY RUN (r17): a clustering " +
      "declaration makes plain OPTIMIZE re-cluster; DRY RUN reports " +
      "and touches nothing") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{SnapshotCommit, StatsSkipping}
    val tbl = "cluster_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    GraftSqlParser.sql(spark, s"CREATE TABLE $tbl AS SELECT " +
      "CAST(id % 97 AS BIGINT) AS a, CAST(id % 89 AS BIGINT) AS b, " +
      "id AS v FROM range(0, 20000)")
    // Unknown clustering column: loud, nothing recorded.
    intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl CLUSTER BY (nope)"))
    assert(SnapshotCommit.properties(spark, tbl)
      .get("clusteringColumns").isEmpty)
    val en = intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl CLUSTER BY (a.b)"))
    assert(en.getMessage.contains("nested field a.b"), en.getMessage)
    GraftSqlParser.sql(spark, s"ALTER TABLE $tbl CLUSTER BY (a, b)")
    // Plain OPTIMIZE now Z-orders on the declared keys: a range probe
    // on EACH key prunes to a strict file subset afterwards.
    val out = GraftSqlParser.sql(spark, s"OPTIMIZE $tbl")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(out("clustered_by") === "a,b", s"got $out")
    val n = SnapshotCommit.dataFiles(spark, tbl).size
    if (n > 1) {
      assert(StatsSkipping.survivingFiles(spark, tbl, "a", 5L, 10L).size
        < n, "OPTIMIZE on a clustered table must Z-order key a")
      assert(StatsSkipping.survivingFiles(spark, tbl, "b", 5L, 10L).size
        < n, "OPTIMIZE on a clustered table must Z-order key b")
    }
    // CLUSTER BY NONE reverts OPTIMIZE to bin-packing.
    GraftSqlParser.sql(spark, s"ALTER TABLE $tbl CLUSTER BY NONE")
    val out2 = GraftSqlParser.sql(spark, s"OPTIMIZE $tbl")
      .collect().map(_.getString(0)).toSet
    assert(out2.contains("files_before"), s"got $out2")
    // VACUUM DRY RUN: reports the files a fold would rewrite, touches
    // nothing — the delete history must stay fully separable.
    GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE v < 50")
    GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE v >= 19950")
    val dry = GraftSqlParser.sql(spark,
      s"VACUUM $tbl RETAIN 1 VERSIONS DRY RUN")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val dmap = dry.toMap
    assert(dmap("would_vacuum_through_version") === "1")
    assert(dry.count(_._1 == "file") ===
      dmap("files_to_rewrite").toInt)
    assert(dmap("files_to_rewrite").toInt > 0)
    // Nothing happened: version 1's delete still separable.
    assert(GraftSqlParser.sql(spark,
      s"SELECT count(*) AS n FROM $tbl VERSION AS OF 1")
      .collect()(0).getLong(0) === 19950L,
      "DRY RUN must not fold anything")
    // It names exactly the files the real VACUUM then replaces.
    def files() = SnapshotCommit.dataFiles(spark, tbl).map(_._1).toSet
    val filesBefore = files()
    GraftSqlParser.sql(spark, s"VACUUM $tbl RETAIN 1 VERSIONS").collect()
    assert(filesBefore -- files() ===
      dry.collect { case ("file", f) => f }.toSet)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("REORG TABLE APPLY (PURGE) (r17): pending DV deletes " +
      "materialize into rewritten files, values unchanged") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "reorg_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    GraftSqlParser.sql(spark, s"CREATE TABLE $tbl AS " +
      "SELECT id, CAST(id * 2 AS BIGINT) AS v FROM range(0, 100)")
    GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id < 10")
    assert(DeletionVectors.version(spark, tbl) === 1L)
    val out = GraftSqlParser.sql(spark,
      s"REORG TABLE $tbl APPLY (PURGE)")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(out("purged_through_version") === "1")
    // The deletes are now PHYSICAL: no live sidecar entries remain,
    // and the visible rows are unchanged.
    assert(DeletionVectors.read(spark, tbl).count() === 90)
    assert(spark.table(tbl).count() === 90,
      "after PURGE the raw files themselves exclude the deleted rows")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("DROP COLUMN (r17): logical removal — live narrowed, files " +
      "carried by name, time travel serves the dropped values, guards " +
      "are loud") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "dropcol_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    GraftSqlParser.sql(spark, s"CREATE TABLE $tbl AS SELECT id, " +
      "CAST(id * 10 AS BIGINT) AS v, CAST(id AS STRING) AS s " +
      "FROM range(0, 50)")
    val filesBefore = SnapshotCommit.dataFiles(spark, tbl).map(_._1).toSet
    // A constraint on the column blocks the drop until released.
    GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl ADD CONSTRAINT v_pos CHECK (v >= 0)")
    val ec = intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl DROP COLUMN v"))
    assert(ec.getMessage.contains("v_pos"), ec.getMessage)
    GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl DROP CONSTRAINT v_pos")
    GraftSqlParser.sql(spark, s"ALTER TABLE $tbl DROP COLUMN s")
    // Live: narrowed, same files (metadata-only — no rewrite).
    assert(spark.table(tbl).columns.toSeq === Seq("id", "v"))
    assert(SnapshotCommit.dataFiles(spark, tbl).map(_._1).toSet ===
      filesBefore, "DROP COLUMN must carry every file by name")
    // Time travel below the drop serves the dropped VALUES.
    val old = GraftSqlParser.sql(spark,
      s"SELECT s FROM $tbl VERSION AS OF 0 WHERE id = 7")
      .collect()(0).getString(0)
    assert(old === "7", "the dropped column's bytes must still serve")
    // Writes align to the narrowed shape; a DV delete still works.
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl VALUES (100, 1000)")
    GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id = 100")
    assert(DeletionVectors.read(spark, tbl)
      .filter(col("id") === 100).count() === 0)
    // Guards: unknown column, dropping everything, plain tables.
    intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl DROP COLUMN nope"))
    val vBefore = SnapshotCommit.currentVersion(spark, tbl)
    GraftSqlParser.sql(spark, s"ALTER TABLE $tbl DROP COLUMN IF EXISTS nope")
    assert(SnapshotCommit.currentVersion(spark, tbl) === vBefore,
      "DROP COLUMN IF EXISTS of an absent column must commit nothing")
    intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $tbl DROP COLUMNS (id, v)"))
    val plain = "dropcol_plain_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $plain")
    graft.core.CatalogUtil.dropOrphanLocation(spark, plain)
    spark.range(3).write.mode("overwrite").format("parquet")
      .saveAsTable(plain)
    val ep = intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $plain DROP COLUMN id"))
    assert(ep.getMessage.contains("CONVERT"), ep.getMessage)
    spark.sql(s"DROP TABLE IF EXISTS $plain")
    SnapshotCommit.destroy(spark, tbl)
    // A saveAsTable-then-CONVERT table stays MANAGED in the catalog —
    // the narrowing re-declare must not let the managed drop delete
    // the live version directory (review r17).
    val mtbl = "dropcol_managed_tbl"
    SnapshotCommit.destroy(spark, mtbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, mtbl)
    spark.range(0, 10).select(col("id"), (col("id") * 2).as("v"))
      .write.mode("overwrite").format("parquet").saveAsTable(mtbl)
    GraftSqlParser.sql(spark, s"CONVERT TO DELTA $mtbl")
    GraftSqlParser.sql(spark, s"ALTER TABLE $mtbl DROP COLUMN v")
    assert(spark.table(mtbl).columns.toSeq === Seq("id"))
    assert(spark.table(mtbl).count() === 10,
      "the managed->narrowed re-declare must not delete the data")
    SnapshotCommit.destroy(spark, mtbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, mtbl)
    // A CHECK blocks the drop of the columns its expression references,
    // not of a column whose name appears in a string literal.
    val ctbl = "dropcol_check_tbl"
    SnapshotCommit.destroy(spark, ctbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, ctbl)
    GraftSqlParser.sql(spark, s"CREATE TABLE $ctbl AS SELECT id, " +
      "CAST(id AS STRING) AS s, id AS x, id AS y FROM range(0, 5)")
    GraftSqlParser.sql(spark,
      s"ALTER TABLE $ctbl ADD CONSTRAINT x_set CHECK (x IS NOT NULL)")
    val ex = intercept[Exception](GraftSqlParser.sql(spark,
      s"ALTER TABLE $ctbl DROP COLUMN x"))
    assert(ex.getMessage.contains("x_set"), ex.getMessage)
    GraftSqlParser.sql(spark, s"ALTER TABLE $ctbl DROP CONSTRAINT x_set")
    GraftSqlParser.sql(spark,
      s"ALTER TABLE $ctbl ADD CONSTRAINT s_not_x CHECK (s <> 'x')")
    GraftSqlParser.sql(spark, s"ALTER TABLE $ctbl DROP COLUMN x")
    assert(spark.table(ctbl).columns.toSeq === Seq("id", "s", "y"))
    SnapshotCommit.destroy(spark, ctbl)
  }

  test("CONVERT TO DELTA (r17): metadata-only migration — files carry " +
      "by name with footer stats, idempotent re-run, loud rejections") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit, StatsSkipping}
    val tbl = "convert_tbl"
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    // A plain parquet catalog table with several files and disjoint
    // per-file id ranges (repartitionByRange keeps ranges contiguous).
    spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v"))
      .repartitionByRange(8, col("id"))
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
    val origNames = spark.table(tbl).inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    assert(SnapshotCommit.register(spark, tbl).isEmpty,
      "precondition: not yet versioned")
    val out = GraftSqlParser.sql(spark, s"CONVERT TO DELTA $tbl")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(out("version") === "1" && out("files") === "8")
    // Metadata-only: the SAME basenames, carried — no rewrite.
    val carried = SnapshotCommit.dataFiles(spark, tbl).map(_._1).toSet
    assert(carried === origNames,
      s"conversion must carry files by name: $carried vs $origNames")
    // Footer stats landed: a range probe plans a strict file subset.
    assert(StatsSkipping.survivingFiles(spark, tbl, "id", 10L, 20L).size
      < 8, "CONVERT must record per-file footer stats")
    // Idempotent (Delta's rule): same version, no second commit.
    val again = GraftSqlParser.sql(spark, s"CONVERT TO DELTA $tbl")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(again("version") === "1" &&
      again("statistics").contains("no-op"))
    // The versioned surface works immediately: DV DELETE + time travel
    // (the LIVE view is DeletionVectors.read — u12's convention).
    GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE id < 100")
    assert(DeletionVectors.read(spark, tbl).count() === 900)
    assert(GraftSqlParser.sql(spark,
      s"SELECT count(*) AS n FROM $tbl VERSION AS OF 0")
      .collect()(0).getLong(0) === 1000L)
    SnapshotCommit.destroy(spark, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    // NO STATISTICS: versioned but statless — every file survives a
    // range probe (conservative contract).
    val tbl2 = "convert_nostats_tbl"
    SnapshotCommit.destroy(spark, tbl2)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl2)
    spark.range(0, 100).select(col("id"))
      .repartitionByRange(4, col("id"))
      .write.mode("overwrite").format("parquet").saveAsTable(tbl2)
    GraftSqlParser.sql(spark, s"CONVERT TO DELTA $tbl2 NO STATISTICS")
    assert(SnapshotCommit.register(spark, tbl2).contains(1L))
    assert(StatsSkipping.survivingFiles(spark, tbl2, "id", 1L, 2L).size
      === 4, "NO STATISTICS must skip the footer pass")
    SnapshotCommit.destroy(spark, tbl2)
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl2)
    // Loud rejections: a missing table, a partitioned table, the
    // unsupported parquet.`path` form, a temp view.
    intercept[Exception](GraftSqlParser.sql(spark,
      "CONVERT TO DELTA convert_missing_tbl"))
    val ptbl = "convert_part_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $ptbl")
    graft.core.CatalogUtil.dropOrphanLocation(spark, ptbl)
    spark.range(0, 10).select(col("id"), (col("id") % 2).as("p"))
      .write.mode("overwrite").format("parquet").partitionBy("p")
      .saveAsTable(ptbl)
    val pe = intercept[Exception](GraftSqlParser.sql(spark,
      s"CONVERT TO DELTA $ptbl"))
    assert(pe.getMessage.contains("partition"),
      s"partitioned rejection must say why: ${pe.getMessage}")
    spark.sql(s"DROP TABLE IF EXISTS $ptbl")
    val fe = intercept[Exception](GraftSqlParser.sql(spark,
      "CONVERT TO DELTA parquet.`/tmp/nowhere`"))
    assert(fe.getMessage.contains("single-part"),
      s"path-form rejection must explain: ${fe.getMessage}")
    spark.range(3).createOrReplaceTempView("convert_view")
    intercept[Exception](GraftSqlParser.sql(spark,
      "CONVERT TO DELTA convert_view"))
    spark.catalog.dropTempView("convert_view")
  }

  test("INSERT shapes Spark parses never write into a published version: " +
      "each commits a version with the model's rows or fails loudly") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "ins_shape_tbl"
    val base = (0L until 10L).map(i => i -> i * 10).toSet
    def v1Listing(): Map[String, Long] = {
      val d = SnapshotCommit.resolveDir(spark, tbl, 1).get
      d.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(d).map(st => st.getPath.getName -> st.getLen).toMap
    }
    def rows(): Set[(Long, Long)] = DeletionVectors.read(spark, tbl)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    // A one-version versioned table, rebuilt before every statement.
    def fresh(): Map[String, Long] = {
      SnapshotCommit.destroy(spark, tbl)
      graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
      SnapshotCommit.commit(spark, tbl) { dir =>
        spark.range(0, 10).select(col("id").as("k"), (col("id") * 10).as("v"))
          .coalesce(1).write.parquet(dir)
      }
      SnapshotCommit.register(spark, tbl)
      v1Listing()
    }
    // statement -> Some(the model's rows after it) | None (must be loud)
    val cases: Seq[(String, Option[Set[(Long, Long)]])] = Seq(
      s"-- c\nINSERT INTO $tbl SELECT 100 AS k, 1000 AS v" ->
        Some(base + (100L -> 1000L)),
      s"/* c */ INSERT INTO $tbl VALUES (101, 1010)" ->
        Some(base + (101L -> 1010L)),
      s"INSERT INTO $tbl BY NAME SELECT 1020 AS v, 102 AS k" ->
        Some(base + (102L -> 1020L)),
      s"INSERT OVERWRITE TABLE $tbl (k, v) SELECT 103, 1030" ->
        Some(Set(103L -> 1030L)),
      s"WITH c AS (SELECT 104 AS k, 1040 AS v) INSERT INTO $tbl " +
        "SELECT * FROM c" -> Some(base + (104L -> 1040L)),
      s"INSERT INTO default.$tbl VALUES (105, 1050)" -> None,
      s"INSERT INTO $tbl PARTITION (k = 1) SELECT 1060" -> None,
      s"INSERT OVERWRITE TABLE $tbl PARTITION (k = 1) IF NOT EXISTS " +
        "SELECT 1070" -> None)
    for ((stmt, model) <- cases) {
      val v1 = fresh()
      val outcome = scala.util.Try(GraftSqlParser.sql(spark, stmt).collect())
      assert(v1Listing() === v1, s"`$stmt` changed the v1 directory")
      model match {
        case Some(want) =>
          assert(outcome.isSuccess, s"`$stmt` failed: $outcome")
          assert(SnapshotCommit.currentVersion(spark, tbl) === Some(2L),
            s"`$stmt` must publish a new version")
          assert(rows() === want, s"`$stmt` committed the wrong rows")
        case None =>
          assert(outcome.failed.toOption.exists(
            _.getMessage.contains("versioned table")),
            s"`$stmt` must fail loudly, naming the versioned target: $outcome")
          assert(SnapshotCommit.currentVersion(spark, tbl) === Some(1L))
          assert(rows() === base)
      }
    }
    SnapshotCommit.destroy(spark, tbl)
    // A plain catalog table runs Spark's own plan for the same shapes.
    val plain = "ins_shape_plain"
    spark.sql(s"DROP TABLE IF EXISTS $plain")
    graft.core.CatalogUtil.dropOrphanLocation(spark, plain)
    spark.sql(s"CREATE TABLE $plain (v BIGINT, k BIGINT) USING parquet " +
      "PARTITIONED BY (k)")
    GraftSqlParser.sql(spark, s"INSERT INTO default.$plain VALUES (7, 1)")
    GraftSqlParser.sql(spark, s"INSERT INTO $plain PARTITION (k = 2) SELECT 8")
    assert(spark.table(plain).collect().map(r => r.getLong(0) -> r.getLong(1))
      .toSet === Set(7L -> 1L, 8L -> 2L))
    assert(SnapshotCommit.currentVersion(spark, plain).isEmpty)
    spark.sql(s"DROP TABLE IF EXISTS $plain")
  }

  test("MERGE from a subquery source: the source is Spark's parsed plan, " +
      "on the upsert and the conditional clause paths") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "merge_subq_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 10).select(col("id"), (col("id") * 10).as("v"))
        .coalesce(1).write.parquet(dir)
    }
    def rows() = DeletionVectors.read(spark, tbl).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    GraftSqlParser.sql(spark,
      s"MERGE INTO $tbl t USING (SELECT id, id * 100 AS v " +
        "FROM range(5, 15)) s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(rows() === ((0L until 5L).map(i => i -> i * 10) ++
      (5L until 15L).map(i => i -> i * 100)).toMap)
    GraftSqlParser.sql(spark,
      s"MERGE INTO $tbl AS t USING (SELECT id, -1L AS v FROM range(0, 3)) " +
        "AS s ON t.id = s.id WHEN MATCHED AND t.id = 1 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET v = s.v")
    val after = rows()
    assert(after.size === 14 && !after.contains(1L))
    assert(after(0L) === -1L && after(2L) === -1L && after(3L) === 30L)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("ALTER TABLE forms Spark parses never change only the catalog of a " +
      "versioned table: each reaches the engine state or fails loudly") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "alter_shape_tbl"
    // A one-version versioned table (id, v, s), rebuilt before every
    // statement; `SET TBLPROPERTIES ('k' = '1')` gives UNSET a key.
    def fresh(): Unit = {
      SnapshotCommit.destroy(spark, tbl)
      graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
      SnapshotCommit.commit(spark, tbl) { dir =>
        spark.range(0, 10).select(col("id"), (col("id") * 10).as("v"),
          col("id").cast("string").as("s")).coalesce(1).write.parquet(dir)
      }
      SnapshotCommit.register(spark, tbl)
      GraftSqlParser.sql(spark, s"ALTER TABLE $tbl SET TBLPROPERTIES ('k' = '1')")
    }
    def props() = SnapshotCommit.properties(spark, tbl)
    // statement -> Some(the engine state it leaves, checked after a later
    // INSERT) | None (it must fail loudly, naming the versioned table)
    val cases: Seq[(String, Option[() => Unit])] = Seq(
      s"ALTER TABLE $tbl ADD COLUMN x INT" -> Some { () =>
        assert(SnapshotCommit.currentVersion(spark, tbl) === Some(3L),
          "the ALTER and the INSERT must each publish a version")
        assert(SnapshotCommit.schemaVersions(spark, tbl).nonEmpty)
        assert(DeletionVectors.read(spark, tbl).columns.toSeq ===
          Seq("id", "v", "s", "x"), "the INSERT commit dropped x")
      },
      s"ALTER TABLE default.$tbl ADD COLUMNS (x INT)" -> None,
      s"ALTER TABLE default.$tbl SET TBLPROPERTIES " +
        "('delta.enableChangeDataFeed'='true')" -> None,
      s"ALTER TABLE default.$tbl CLUSTER BY (id)" -> None,
      s"ALTER TABLE $tbl UNSET TBLPROPERTIES ('k')" -> Some { () =>
        assert(!props().contains("k"), s"UNSET left the sidecar key: ${props()}")
      },
      s"ALTER TABLE $tbl ALTER COLUMN v COMMENT 'c'" -> None,
      s"ALTER TABLE $tbl RENAME COLUMN s TO s2" -> None)
    for ((stmt, effect) <- cases) {
      fresh()
      val outcome = scala.util.Try(GraftSqlParser.sql(spark, stmt).collect())
      effect match {
        case Some(_) =>
          assert(outcome.isSuccess, s"`$stmt` failed: $outcome")
        case None =>
          assert(outcome.failed.toOption.exists(
            _.getMessage.contains("versioned table")),
            s"`$stmt` must fail loudly, naming the versioned target: $outcome")
          assert(SnapshotCommit.currentVersion(spark, tbl) === Some(1L))
      }
      GraftSqlParser.sql(spark,
        s"INSERT INTO $tbl (id, v, s) VALUES (100, 1000, '100')")
      SnapshotCommit.register(spark, tbl)
      effect match {
        case Some(check) => check()
        case None =>
          assert(DeletionVectors.read(spark, tbl).columns.toSeq ===
            Seq("id", "v", "s"))
          assert(props().get("k").contains("1") &&
            !props().contains("delta.enableChangeDataFeed") &&
            !props().contains("clusteringColumns"), s"`$stmt`: ${props()}")
      }
      assert(DeletionVectors.read(spark, tbl).count() === 11)
    }
    SnapshotCommit.destroy(spark, tbl)
    // A plain catalog table runs Spark's own plan for the same forms.
    val plain = "alter_shape_plain"
    spark.sql(s"DROP TABLE IF EXISTS $plain")
    graft.core.CatalogUtil.dropOrphanLocation(spark, plain)
    spark.sql(s"CREATE TABLE $plain (id INT, s STRING) USING parquet")
    GraftSqlParser.sql(spark, s"ALTER TABLE default.$plain ADD COLUMNS (x INT)")
    GraftSqlParser.sql(spark, s"ALTER TABLE $plain ALTER COLUMN s COMMENT 'c'")
    assert(spark.table(plain).columns.toSeq === Seq("id", "s", "x"))
    assert(spark.table(plain).schema("s").getComment().contains("c"))
    assert(SnapshotCommit.currentVersion(spark, plain).isEmpty)
    spark.sql(s"DROP TABLE IF EXISTS $plain")
  }

  /** A change-feed table shaped like the lifecycle benchmark's: eight
    * range-clustered files of (k, cust, status, total, prio), then one
    * INSERT, so its `_dv` sidecar holds sentinel rows only. */
  private def sentinelOnlyTable(tbl: String, rows: Long = 20000L): Unit = {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.SnapshotCommit
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, rows).select(col("id").as("k"),
          (col("id") % 500).as("cust"), lit("O").as("status"),
          (col("id") * 1.5).as("total"), lit("1-URGENT").as("prio"))
        .repartitionByRange(8, col("k")).sortWithinPartitions("k")
        .write.parquet(dir)
    }
    SnapshotCommit.register(spark, tbl)
    GraftSqlParser.sql(spark, s"ALTER TABLE $tbl SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')")
    GraftSqlParser.sql(spark,
      s"INSERT INTO $tbl VALUES ($rows, 1, 'N', 10.0D, '2-HIGH')")
  }

  /** A star-upsert MERGE source view: 50 live keys spread over every
    * file of [[sentinelOnlyTable]], then 50 new keys. */
  private def upsertSource(view: String, rows: Long = 20000L): Unit = {
    val hit = (0 until 50).map(i => i * (rows / 50) + 7)
    val fresh = (0 until 50).map(i => rows + 1 + i)
    val values = (hit ++ fresh).map(k =>
      s"($k, 3, 'M', ${k * 2}.25D, '3-MEDIUM')").mkString(", ")
    spark.sql(s"CREATE OR REPLACE TEMP VIEW $view AS SELECT * FROM " +
      s"VALUES $values AS s(k, cust, status, total, prio)")
  }

  test("an empty deletion vector costs no job: on a change-feed table " +
      "whose sidecar holds only sentinels, a masked read runs 1 job, an " +
      "UPDATE at most 4 and a star-upsert MERGE at most 11") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "dv_jobs_tbl"
    sentinelOnlyTable(tbl)
    val (readJobs, n) = jobsOf(DeletionVectors.read(spark, tbl)
      .filter(col("cust") === 7).collect().length)
    assert(n === 40)
    assert(readJobs.size === 1, readJobs.mkString("\n"))
    val (updJobs, _) = jobsOf(GraftSqlParser.sql(spark,
      s"UPDATE $tbl SET total = total + 1.5D, status = 'U' WHERE k % 97 = 5"))
    assert(updJobs.size <= 4, updJobs.mkString("\n"))
    upsertSource("dv_jobs_src")
    val vPre = DeletionVectors.version(spark, tbl)
    val (mrgJobs, _) = jobsOf(GraftSqlParser.sql(spark,
      s"MERGE INTO $tbl t USING dv_jobs_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    assert(mrgJobs.size <= 11, mrgJobs.mkString("\n"))
    // The feed splits the source by the matched keys: 50 update pairs
    // (pre-images hold the old rows), 50 inserts.
    val hit = (0 until 50).map(_ * 400L + 7).toSet
    val feed = GraftSqlParser.sql(spark, "SELECT k, status, total, " +
      s"change_type FROM table_changes('$tbl', $vPre, ${vPre + 1})").collect()
      .groupBy(_.getString(3))
    assert(feed.keySet === Set("update_preimage", "update_postimage", "insert"))
    assert(feed("update_preimage").map(_.getLong(0)).toSet === hit)
    assert(feed("update_preimage").forall(r => r.getString(1) != "M" &&
      r.getDouble(2) === r.getLong(0) * 1.5 +
        (if (r.getString(1) == "U") 1.5 else 0.0)))
    assert(feed("update_postimage").map(_.getLong(0)).toSet === hit)
    assert(feed("insert").map(_.getLong(0)).toSet ===
      (0 until 50).map(20001L + _).toSet)
    assert((feed("update_postimage") ++ feed("insert")).forall(r =>
      r.getString(1) == "M" && r.getDouble(2) === r.getLong(0) * 2 + 0.25))
    assert(feed.values.forall(_.length == 50))
    val live = DeletionVectors.read(spark, tbl)
    assert(live.count() === 20001L + 50L)
    assert(live.filter(col("status") === "M").count() === 100L)
    assert(live.filter(col("status") === "U").count() ===
      (0L until 20000L).count(_ % 97 == 5) -
        (0 until 50).map(_ * 400L + 7).count(_ % 97 == 5))
    SnapshotCommit.destroy(spark, tbl)
  }

  test("a deletion vector with coordinates still masks every path: " +
      "reads, VERSION AS OF, UPDATE, MERGE and its change feed hide the " +
      "deleted rows, also under a `_dv` file written without statistics") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "dv_mask_paths_tbl"
    sentinelOnlyTable(tbl)
    def live = DeletionVectors.read(spark, tbl)
    def countAsOf(v: Long) = GraftSqlParser.sql(spark,
      s"SELECT count(*) AS n FROM $tbl VERSION AS OF $v")
      .collect()(0).getLong(0)
    val vBefore = DeletionVectors.version(spark, tbl)
    GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE k % 10 = 3")
    val vDel = DeletionVectors.version(spark, tbl)
    assert(live.count() === 18001L)

    // Rewrite the sidecar without column statistics: its footers can no
    // longer show that it holds coordinates, so the mask must stay.
    val dvDir = new org.apache.hadoop.fs.Path(
      SnapshotCommit.currentLocation(spark, tbl).get, "_dv")
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = dvDir.getFileSystem(hconf)
    val rows = DeletionVectors.sidecarRowsAt(spark, dvDir).get
    fs.listStatus(dvDir).foreach(st => fs.delete(st.getPath, false))
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message spark_schema { optional binary f (UTF8); " +
        "optional int64 p; optional int64 v; }")
    val file = new org.apache.hadoop.fs.Path(dvDir, "part-00000-nostats.parquet")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, hconf))
      .withConf(hconf).withType(schema).withStatisticsEnabled(false).build()
    try rows.foreach { case (f, p, v) =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      g.add("f", f); g.add("p", p); g.add("v", v)
      w.write(g)
    } finally w.close()
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, hconf))
    try {
      import scala.jdk.CollectionConverters._
      val chunks = footer.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala)
      assert(chunks.nonEmpty && chunks.forall { c =>
        val st = c.getStatistics
        st == null || st.isEmpty || !st.hasNonNullValue
      }, "the rewritten sidecar must carry no usable statistics")
    } finally footer.close()
    assert(live.count() === 18001L, "a stats-less sidecar must still mask")
    assert(live.filter(col("k") % 10 === 3).count() === 0L)
    assert(countAsOf(vBefore) === 20001L)
    assert(countAsOf(vDel) === 18001L)

    // UPDATE over masked rows: updates only live ones, resurrects none.
    GraftSqlParser.sql(spark, s"UPDATE $tbl SET status = 'U' WHERE k < 100")
    assert(live.filter(col("status") === "U").count() === 90L)
    assert(live.count() === 18001L)
    assert(countAsOf(vDel) === 18001L)

    // MERGE: a deleted key inserts, a live key updates, a new key
    // inserts; the feed's images follow the same split.
    val vPre = DeletionVectors.version(spark, tbl)
    spark.sql(s"CREATE OR REPLACE TEMP VIEW dv_mask_src AS SELECT * FROM " +
      "VALUES (13L, 3L, 'M', 1.0D, 'x'), (14L, 3L, 'M', 2.0D, 'x'), " +
      "(50000L, 3L, 'M', 3.0D, 'x') AS s(k, cust, status, total, prio)")
    GraftSqlParser.sql(spark, s"MERGE INTO $tbl t USING dv_mask_src s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val vMrg = DeletionVectors.version(spark, tbl)
    assert(live.count() === 18003L)
    assert(live.filter(col("k") % 10 === 3).select("k").collect()
      .map(_.getLong(0)).toSet === Set(13L))
    assert(live.filter(col("status") === "M").count() === 3L)
    val feed = GraftSqlParser.sql(spark, "SELECT k, status, change_type " +
      s"FROM table_changes('$tbl', $vPre, $vMrg)").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed === Set((14L, "U", "update_preimage"),
      (14L, "M", "update_postimage"), (13L, "M", "insert"),
      (50000L, "M", "insert")), feed.toString)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("a masked read over a Spark-written multi-part sidecar reads its " +
      "_dv directory as one root path: no listing job, whatever the part " +
      "count") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "dv_parts_tbl"
    sentinelOnlyTable(tbl)
    GraftSqlParser.sql(spark, s"DELETE FROM $tbl WHERE k % 250 = 3")
    def live = DeletionVectors.read(spark, tbl)
    val (oneFileJobs, n0) = jobsOf(live.collect().length)
    assert(n0 === 19921)

    // Rewrite the sidecar the way older tables hold it: Spark-written,
    // two rows a file, more parts than Spark lists serially (32).
    val dvDir = new org.apache.hadoop.fs.Path(
      SnapshotCommit.currentLocation(spark, tbl).get, "_dv")
    val rows = DeletionVectors.sidecarRowsAt(spark, dvDir).get
    spark.createDataFrame(rows).toDF("f", "p", "v").coalesce(1)
      .write.mode("overwrite").option("maxRecordsPerFile", 2L)
      .parquet(dvDir.toString)
    val parts = dvDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dvDir).count(_.getPath.getName.endsWith(".parquet"))
    assert(parts > 32, s"$parts parts")

    val (jobs, n) = jobsOf(live.collect().length)
    assert(n === 19921)
    assert(jobs.size === oneFileJobs.size, jobs.mkString("\n"))
    assert(live.filter(col("k") % 250 === 3).count() === 0L)
    assert(live.count() === 19921L)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("count(*) over the live view of a sentinel-only table is answered " +
      "from metadata, with no scan in the plan") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit, StatsSkipping}
    val tbl = "dv_sentinel_count_tbl"
    SnapshotCommit.destroy(spark, tbl)
    StatsSkipping.commitWithStats(spark, tbl, "id") { stage =>
      spark.range(0, 3000).select(col("id"), (col("id") % 7).as("g"))
        .repartitionByRange(4, col("id")).write.parquet(stage)
    }
    SnapshotCommit.register(spark, tbl)
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl VALUES (5000, 1), (5001, 2)")
    GraftSqlParser.sql(spark, s"UPDATE $tbl SET g = 9 WHERE id < 10")
    assert(DeletionVectors.version(spark, tbl) === 2L)
    StatsSkipping.installRule(spark)
    val n = DeletionVectors.read(spark, tbl).agg(count(lit(1)).as("n"))
    assert(n.collect()(0).getLong(0) === 3002L)
    val plan = n.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Scan parquet"), plan)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("MERGE with duplicate source keys fails before publishing, also " +
      "when the only repeat is two NULL-key rows") {
    import graft.ext.GraftSqlParser
    import graft.storage.SnapshotCommit
    val tbl = "dv_merge_dup_tbl"
    sentinelOnlyTable(tbl, rows = 1000L)
    val before = SnapshotCommit.currentVersion(spark, tbl)
    val files = SnapshotCommit.dataFiles(spark, tbl).map(_._1).sorted
    Seq("(5L, 1L, 'M', 1.0D, 'x'), (5L, 2L, 'M', 2.0D, 'x')",
      "(CAST(NULL AS BIGINT), 1L, 'M', 1.0D, 'x'), " +
        "(CAST(NULL AS BIGINT), 2L, 'M', 2.0D, 'x'), (7L, 3L, 'M', 3.0D, 'x')"
    ).foreach { values =>
      spark.sql(s"CREATE OR REPLACE TEMP VIEW dv_merge_dup_src AS SELECT * " +
        s"FROM VALUES $values AS s(k, cust, status, total, prio)")
      val e = intercept[Exception](GraftSqlParser.sql(spark,
        s"MERGE INTO $tbl t USING dv_merge_dup_src s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
      assert(e.getMessage.contains("duplicate keys"), e.getMessage)
      assert(SnapshotCommit.currentVersion(spark, tbl) === before)
      assert(SnapshotCommit.dataFiles(spark, tbl).map(_._1).sorted === files)
    }
    SnapshotCommit.destroy(spark, tbl)
  }

  test("the deletion vector is a file of its version: DML and maintenance " +
      "register no `<t>__dv` catalog entry, a rebuild at the same path " +
      "masks only its own deletes, and a fresh session reads the same rows") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit, StatsSkipping}
    val tbl = "dv_by_path_tbl"
    def build(): Unit = {
      SnapshotCommit.destroy(spark, tbl)
      StatsSkipping.commitWithStats(spark, tbl, "k") { stage =>
        spark.range(0, 1000).select(col("id").as("k"), (col("id") % 7).as("v"))
          .repartitionByRange(4, col("k")).write.parquet(stage)
      }
      SnapshotCommit.register(spark, tbl)
    }
    def sql(q: String): Unit = GraftSqlParser.sql(spark, q).collect()
    def rows(s: SparkSession): Map[Long, Long] =
      DeletionVectors.read(s, tbl).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // count(*) through the mask: the metadata rewrite reads only the
    // sidecar, which it must find under the data files' own directory.
    def counted(): Long = {
      val n = DeletionVectors.read(spark, tbl).agg(count(lit(1)))
      val v = n.collect()(0).getLong(0)
      val scanned = new org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanHelper {}.collect(n.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.toSeq
      }.flatten
      assert(scanned.nonEmpty && scanned.forall(_.contains("/_dv/")),
        scanned.mkString(", "))
      v
    }
    StatsSkipping.installRule(spark)

    build()
    sql(s"DELETE FROM $tbl WHERE k < 100")
    assert(rows(spark).keySet === (100L until 1000L).toSet)
    sql(s"UPDATE $tbl SET v = 100 WHERE k >= 900")
    spark.sql("CREATE OR REPLACE TEMP VIEW dv_by_path_src AS SELECT * " +
      "FROM VALUES (500L, -5L), (2000L, -6L) AS s(k, v)")
    sql(s"MERGE INTO $tbl t USING dv_by_path_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    sql(s"OPTIMIZE $tbl")
    sql(s"DELETE FROM $tbl WHERE k % 10 = 3")
    val vRestore = DeletionVectors.version(spark, tbl)
    sql(s"DELETE FROM $tbl WHERE k % 10 = 4")
    sql(s"RESTORE TABLE $tbl TO VERSION AS OF $vRestore")
    sql(s"DELETE FROM $tbl WHERE k % 10 = 5")
    sql(s"VACUUM $tbl RETAIN 1 VERSIONS")
    // The vacuum folded the k % 10 = 3 delete; k % 10 = 5 stays a
    // coordinate, so the read below goes through the mask's join.
    val dv = new org.apache.hadoop.fs.Path(
      SnapshotCommit.currentLocation(spark, tbl).get, "_dv")
    assert(DeletionVectors.sidecarRowsAt(spark, dv).get.exists(_._2 >= 0))
    val expected = ((100L until 1000L) :+ 2000L)
      .filter(k => k % 10 != 3 && k % 10 != 5)
      .map(k => k -> (if (k == 500L) -5L else if (k == 2000L) -6L
        else if (k >= 900L) 100L else k % 7)).toMap
    assert(rows(spark) === expected)
    assert(counted() === expected.size.toLong)
    assert(!spark.catalog.listTables().collect().exists(_.name == s"${tbl}__dv"))

    // Rebuilt at the same path, the table reuses v2/_dv for its first
    // delete; the read must list the new sidecar, not the old run's.
    build()
    sql(s"DELETE FROM $tbl WHERE k % 2 = 0")
    val odd = (0L until 1000L).filter(_ % 2 == 1).map(k => k -> k % 7).toMap
    assert(rows(spark) === odd)
    assert(counted() === 500L)
    sql(s"DELETE FROM $tbl WHERE k < 11")
    assert(rows(spark) === odd.filter(_._1 >= 11L))
    assert(counted() === 495L)
    // A session that never read the table: empty relation cache.
    assert(rows(spark.newSession()) === odd.filter(_._1 >= 11L))
    assert(!spark.catalog.listTables().collect().exists(_.name == s"${tbl}__dv"))
    SnapshotCommit.destroy(spark, tbl)
  }
}
