package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Deletion-vector stand-in — the reference's tables declare
  * `delta.enableDeletionVectors = true` (`scripts/gold/
  * fact_order_items.sql:7`): a DELETE marks rows dead in a per-file
  * bitmap instead of rewriting the files, and readers subtract the
  * bitmap on scan. The environment has no Delta jars, but Spark's
  * parquet reader exposes the two physical coordinates a DV needs —
  * `_metadata.file_path` and `_metadata.row_index` (the row's stable
  * position inside its file) — so the same contract runs on plain
  * parquet:
  *
  *  - [[delete]] appends the matched rows' (file, pos) pairs to the
  *    version's `_dv` sidecar, stamped with a monotonically increasing
  *    DELETE VERSION. The DATA FILES ARE NOT TOUCHED (StorageSpec pins
  *    their names, sizes and mtimes across a delete); repeated deletes
  *    accumulate.
  *  - [[read]] subtracts the sidecar with a BROADCAST left-anti join on
  *    (file, pos) — deletes are bounded between compactions, so the
  *    subtraction is map-side, no shuffle of the table.
  *  - [[readAt]] is the TIME-TRAVEL read (`SELECT ... VERSION AS OF v`):
  *    subtract only the vectors stamped <= v. Version 0 is the
  *    pre-delete table. Because data files are immutable and deletes
  *    only append, every historical version stays readable at zero
  *    storage cost beyond the sidecar.
  *  - [[restore]] rolls the LIVE view back (Delta's `RESTORE TABLE ...
  *    TO VERSION AS OF v`): drop sidecar entries stamped > v — a
  *    sidecar-only rewrite, no data IO.
  *  - [[compact]] folds the vectors in: rewrites the surviving rows,
  *    drops the sidecar (Delta's `REORG TABLE ... APPLY PURGE`).
  *    History before the compaction is no longer reachable — exactly
  *    Delta's VACUUM/REORG trade.
  *
  * ATOMICITY — every mutation is ONE [[SnapshotCommit]] publish. The
  * sidecar lives INSIDE the snapshot directory (`<snapshot>/_dv/`,
  * underscore-prefixed so table scans ignore it), so data files and
  * their deletion vectors always commit TOGETHER: a crash at any point
  * leaves the previous (data, sidecar) pair fully consistent — the same
  * guarantee Delta's log gives a DV write. Data files move between
  * versions by hard link (directory entries — names, sizes and mtimes
  * preserved, no IO), and sidecar coordinates key on file BASENAME,
  * which linking keeps stable across versions. The sidecar is a file
  * of the version, not a table: no catalog entry names it, and every
  * reader finds it by path from the current version directory.
  *
  * Scale: the sidecar is sized for the driver. Every path that reads
  * it (the stamp of each DML commit, delete, restore, vacuum, the
  * change feed) reads its rows on the driver with no Spark job, and
  * [[read]] broadcasts it, so its coordinates must fit in driver memory
  * between compactions; [[compact]] and vacuum are what shrink it.
  * Delete cost = one column-pruned scan of the matched coordinates + a
  * driver-side sidecar rewrite; read overhead = a broadcast hash
  * anti-join probe per row, and nothing while the sidecar holds only
  * sentinel rows (one footer read decides); restore touches only the
  * sidecar. Single writer assumed (the Delta difference is multi-writer
  * arbitration — its log serializes concurrent commits); the
  * query-visible semantics are identical.
  */
object DeletionVectors {

  /** Wall clock for delete-version timestamp sentinels — a test hook
    * (specs pin TIMESTAMP AS OF / RETAIN n HOURS resolution against
    * injected instants); production never touches it. */
  private[graft] var clockMs: () => Long = () => System.currentTimeMillis()

  /** Sentinel prefix recording WHEN a delete version committed:
    * `(_ts:<epochMillis>, -1, v)` rides in the sidecar next to the
    * `_hwm` stamp — synthetic coordinates (p = -1) match no data row,
    * restore keeps them (p < 0), carries keep them, and vacuum restates
    * the ones above its cutoff — so the (version, timestamp) map
    * survives every lifecycle op that keeps the version readable. This
    * is the resolution axis for `TIMESTAMP AS OF` and `VACUUM ...
    * RETAIN n HOURS` (Delta serves both from its commit log; the
    * engine's log IS the sidecar + `_meta`, and `_meta` dies with
    * pruned snapshot directories, so the timestamps must live in the
    * sidecar that survives). */
  private[graft] val TsPrefix = "_ts:"

  /** Sentinel prefix recording a file APPENDED by a versioned write:
    * `(_add:<basename>, -1, v)` rides next to the `_hwm` stamp of an
    * INSERT INTO / COPY INTO commit — synthetic coordinates match no
    * data row, carries/restore keep them (p < 0), vacuum remaps them to
    * the rewritten basenames above its cutoff — so [[changesBetween]]
    * can serve the inserted rows (`change_type = 'insert'`) by reading
    * exactly the files the version appended. */
  private[graft] val AddPrefix = "_add:"

  /** Sentinel prefix recording WHICH OPERATION committed a change
    * version: `(_op:<OP>, -1, v)`. [[changesBetween]] dispatches on it
    * — DELETE versions feed the delete arm, WRITE/COPY versions the
    * insert arm, UPDATE versions the recorded pre/post images, and an
    * operation the feed does not record (MERGE) FAILS the query loudly
    * instead of silently answering less than Delta's TVF would.
    * Versions with no `_op` row are pre-r17 deletes. */
  private[graft] val OpPrefix = "_op:"

  /** Sentinel prefix recording a SOURCE file ingested by `COPY INTO`:
    * `(_copy:<source path>, -1, v)` — the load-idempotence ledger
    * (Databricks' COPY INTO skips already-loaded files by name). Kept
    * by vacuum REGARDLESS of version: folding history must never
    * re-open re-ingestion. */
  private[graft] val CopyPrefix = "_copy:"

  /** Sentinel prefix marking a change version whose DELETE rows were
    * later rewritten away: `(_lost:<v>, -1, v)`. A touched-file rewrite
    * (UPDATE/MERGE) physically removes the dead rows of the files it
    * rewrites and drops their sidecar coordinates — the versions those
    * coordinates were stamped with can then no longer serve their
    * delete feed, so [[changesBetween]] fails LOUDLY on a range
    * covering a marked version instead of silently under-reporting
    * (Delta's CDF survives rewrites because it stores change files;
    * this engine stores coordinates, so it marks what it lost). */
  private[graft] val LostPrefix = "_lost:"

  /** Root-level directory holding recorded row images for UPDATE
    * versions: `<table root>/_changes/v<version>/` parquet, columns =
    * table schema + change_type + commit_version (Delta's
    * `_change_data` shape). Outside the version directories, so prune
    * never touches it; vacuum drops folded versions' images; destroy
    * removes the root wholesale. */
  private[graft] val ChangesDirName = "_changes"

  private[graft] def changesDir(spark: SparkSession, table: String,
      v: Long): Path =
    new Path(new Path(SnapshotCommit.rootDir(spark, table),
      ChangesDirName), s"v$v")

  /** Coordinates key on BASENAME: hard-link carries preserve it across
    * snapshot versions, while the full path changes with each version
    * directory. Basenames are unique within a table (Spark part files
    * embed a job UUID; vacuum rewrites embed a fresh nonce). */
  private def withCoords(df: DataFrame): DataFrame = df
    .withColumn("_dv_file", substring_index(col("_metadata.file_path"), "/", -1))
    .withColumn("_dv_pos", col("_metadata.row_index"))

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The current snapshot's `_dv` directory, if the table is
    * snapshot-committed. */
  private def dvDir(spark: SparkSession, table: String): Option[Path] =
    SnapshotCommit.currentLocation(spark, table).map(new Path(_, "_dv"))

  /** Carry every data file of the current version into a staged
    * snapshot directory, names preserved (SnapshotCommit.carry).
    * `except` filters by basename (vacuum skips the files it
    * rewrote). */
  private def linkDataFiles(spark: SparkSession, from: Path, to: Path,
      except: Set[String] = Set.empty): Unit =
    SnapshotCommit.carryData(spark, from, to, except)

  /** Adopt a plain (managed/external) table into snapshot-commit form:
    * version 1 = every current file carried by link. Metadata-only; the
    * original directory is left untouched.
    *
    * Unpartitioned tables only, enforced: adoption flattens
    * `inputFiles` into one directory, and a hive-partitioned table's
    * partition-column VALUES live in its directory names, not the file
    * bytes — a flat carry would silently drop them (or nest-collide).
    * Misuse fails fast here instead of corrupting data.
    */
  private[graft] def ensureSnapshot(spark: SparkSession, table: String): Path =
    SnapshotCommit.currentLocation(spark, table).getOrElse {
      if (spark.catalog.tableExists(table)) {
        val meta = scala.util.Try(spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)))
        meta.foreach(m => require(m.partitionColumnNames.isEmpty,
          s"cannot adopt partitioned table $table into snapshot commits: " +
            s"partition columns ${m.partitionColumnNames.mkString(", ")} " +
            "live in directory paths that a flat file carry would lose"))
      }
      val files = spark.table(table).inputFiles
      require(files.nonEmpty, s"$table has no files to adopt")
      require(files.map(f => new Path(f).getParent.toUri.getPath).distinct
        .sizeIs == 1,
        s"cannot adopt $table: its files span multiple directories " +
          "(partitioned or bucketed-by-path layout); adoption carries a " +
          "single flat directory")
      SnapshotCommit.commit(spark, table, operation = "CONVERT") { dir =>
        // Re-derived per attempt (commit may re-invoke after a lost
        // claim; the file list must reflect the then-current catalog).
        val to = new Path(dir)
        spark.table(table).inputFiles.foreach { f =>
          val src = new Path(new Path(f).toUri.getPath)
          SnapshotCommit.carry(spark, src, new Path(to, src.getName))
        }
      }
    }

  /** The current sidecar rows ((f, p, v)), read DRIVER-SIDE — no
    * Spark job. The sidecar is broadcast-small by contract (every
    * consumer collect()ed it already), so routing its read through the
    * scheduler cost a full job round-trip per DML statement; the
    * per-micro-batch commit loops (st21/st22's shape) pay that on every
    * append. None when the current version carries no `_dv`
    * directory. */
  private def sidecarRowsLocal(spark: SparkSession,
      table: String): Option[Seq[(String, Long, Long)]] =
    dvDir(spark, table).flatMap(sidecarRowsAt(spark, _))

  /** The parquet files of the sidecar directory `d`; empty when `d`
    * does not exist. */
  private def sidecarFiles(spark: SparkSession, d: Path): Seq[Path] =
    try fs(spark, d).listStatus(d).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The (f, p, v) rows of the sidecar directory `d` (any version's
    * `_dv`), read on the driver; None when `d` does not exist. */
  private[graft] def sidecarRowsAt(spark: SparkSession,
      d: Path): Option[Seq[(String, Long, Long)]] =
    if (!fs(spark, d).exists(d)) None
    else Some(sidecarFiles(spark, d).flatMap { file =>
        val rdr = org.apache.parquet.hadoop.ParquetReader.builder(
          new org.apache.parquet.hadoop.example.GroupReadSupport(), file)
          .withConf(spark.sparkContext.hadoopConfiguration).build()
        try Iterator.continually(rdr.read()).takeWhile(_ != null)
          .map(g => (g.getString("f", 0),
            g.getLong("p", 0), g.getLong("v", 0)))
          .toList
        finally rdr.close()
      })

  /** Driver-side counterpart of the stamp's sidecar write: one parquet
    * file under `dir` with the [[SidecarSchema]] columns, which every
    * read path (including [[maskAt]]'s join) consumes. */
  private def writeSidecarRows(spark: SparkSession, dir: Path,
      rows: Seq[(String, Long, Long)]): Unit = {
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message spark_schema { optional binary f (UTF8); " +
        "optional int64 p; optional int64 v; }")
    val hconf = spark.sparkContext.hadoopConfiguration
    fs(spark, dir).mkdirs(dir)
    val file = new Path(dir, "part-00000-graft-dv.parquet")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, hconf))
      .withConf(hconf).withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { case (fb, p, v) =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      g.add("f", fb); g.add("p", p); g.add("v", v)
      w.write(g)
    } finally w.close()
  }

  /** The table's delete-version HIGH-WATER MARK: 0 before any delete,
    * else the highest stamp in the sidecar — including sentinel rows, so
    * the mark is monotone across restore (which drops data entries but
    * keeps sentinels) and across vacuum (whose `_floor` sentinel covers
    * the folded history). `version() + 1` is therefore always a
    * NEVER-USED number (a 1-row aggregate over the bounded sidecar).
    */
  def version(spark: SparkSession, table: String): Long =
    sidecarRowsLocal(spark, table)
      .map(_.map(_._3).maxOption.getOrElse(0L)).getOrElse(0L)

  /** Mark rows matching `pred` deleted: one atomic snapshot commit whose
    * data files are links of the current version (byte-identical, same
    * names) and whose sidecar adds the matched coordinates under the
    * next delete version. Returns the new version.
    */
  def delete(spark: SparkSession, table: String, pred: Column): Long = {
    ensureSnapshot(spark, table)
    var committed = 0L
    SnapshotCommit.commit(spark, table, operation = "DELETE") { dir =>
      // Derived INSIDE the closure, per attempt: two concurrent deletes
      // race the optimistic version claim; the loser re-invokes here
      // against the winner's (version, sidecar) pair, so its delete
      // stamp and sidecar union rebase instead of clobbering. Both
      // writes read the CURRENT version (still live until the pointer
      // claim): the matched rows' coordinates are collected (the one
      // Spark job), the stamp unions them into the old sidecar on the
      // driver, then the data files are linked.
      val coords: Seq[(String, Long)] =
        withCoords(spark.table(table)).filter(pred)
          .select(col("_dv_file"), col("_dv_pos"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val v = stampVersion(spark, table, new Path(dir), op = "DELETE",
        added = Nil, deleted = coords)
      val cur = SnapshotCommit.currentLocation(spark, table).get
      linkDataFiles(spark, cur, new Path(dir))
      // Skipping and stream progress survive the delete: same
      // basenames, unchanged bytes; a shed _batchid would re-open the
      // sink's exactly-once hole after any delete.
      StatsSkipping.refreshStats(spark, cur, new Path(dir))
      SnapshotCommit.carryBatchId(spark, cur, new Path(dir))
      committed = v
    }
    committed
  }

  /** The live view: table rows minus the whole deletion vector — the
    * plain table scan while the vector holds no coordinate (maskAt). */
  def read(spark: SparkSession, table: String): DataFrame =
    readAt(spark, table, Long.MaxValue)

  /** Time travel: the table as of delete version `v` — subtract only
    * vectors stamped <= v (version 0 = before any delete). Immutable
    * data files + append-only sidecar make every version readable
    * without snapshot copies. On a schema-evolved table the historical
    * version serves the schema EFFECTIVE AT v (the ledger's newest
    * entry at or below it — Delta's time-travel schema semantics),
    * read DIRECTLY under that schema: a column added since the anchor
    * is absent, a column dropped since still reads from the files that
    * carry its bytes (r17 — the live-schema projection the pre-drop
    * code used cannot resurrect a dropped column). While the current
    * sidecar holds no data coordinate, no version subtracts anything
    * and the read is the plain scan (maskAt).
    */
  def readAt(spark: SparkSession, table: String, v: Long): DataFrame = {
    val ledger = SnapshotCommit.schemaVersions(spark, table)
    if (ledger.isEmpty)
      maskAt(spark, table, spark.table(table), v)
    else {
      val effective = ledger.filter(_._1 <= v).lastOption
        .getOrElse(ledger.head)._2
      maskAt(spark, table,
        SnapshotCommit.readCurrentAs(spark, table, effective), v)
    }
  }

  /** Apply the table's LIVE deletion vector to an externally-built scan
    * of (a subset of) its data files — the hook that keeps alternative
    * read paths (StatsSkipping.readRange's pruned file scan) from
    * resurrecting deleted rows. Coordinates key on file BASENAME +
    * row index, so a scan over any subset of the version's files masks
    * correctly; a table whose sidecar holds no coordinate passes
    * through untouched.
    */
  private[graft] def mask(spark: SparkSession, table: String,
      base: DataFrame): DataFrame = maskAt(spark, table, base, Long.MaxValue)

  /** The LIVE view with per-row file provenance: each surviving row
    * carries its data file's BASENAME in `fileCol` — the probe input a
    * touched-file MERGE needs (which files hold a matched key must be
    * decided on live rows: a key whose every row in a file is already
    * DV-deleted must NOT drag that file into the rewrite). Column-prunes
    * like any scan — a caller selecting (key, fileCol) reads only the
    * key column plus metadata.
    */
  private[graft] def readWithProvenance(spark: SparkSession, table: String,
      fileCol: String): DataFrame =
    maskAt(spark, table,
      withCoords(spark.table(table))
        .withColumnRenamed("_dv_file", fileCol)
        .drop("_dv_pos"),
      Long.MaxValue)

  /** Stamp a staged commit with the NEXT change version: writes the
    * staged `_dv` sidecar = current sidecar, minus the data entries of
    * `dropped` basenames (files a rewrite removed from the version),
    * plus the `deleted` (basename, position) coordinates of a DELETE,
    * plus this version's sentinel rows: `_hwm` (consumes the number,
    * even when nothing matched, so no later stamp reuses a version a
    * caller already holds), `_ts:` (the TIMESTAMP AS OF / RETAIN
    * anchor), `_op:<op>` (what committed it — the [[changesBetween]]
    * dispatch key) and one `_add:<basename>` per appended file.
    * Sentinels (p = -1) always survive, so the high-water mark stays
    * monotone across rewrites, and every data entry keeps referencing a
    * live basename — the invariant that lets
    * [[graft.storage.MetadataAggRule]] answer count(*) from sidecars
    * alone. Called INSIDE a SnapshotCommit write closure — everything
    * re-derives per attempt, so a lost-claim rebase stamps against the
    * winner's sidecar. Returns the stamped version. */
  private[graft] def stampVersion(spark: SparkSession, table: String,
      stage: Path, op: String, added: Seq[String],
      dropped: Set[String] = Set.empty,
      copied: Seq[String] = Nil,
      deleted: Seq[(String, Long)] = Nil): Long = {
    // FULLY driver-side (r17): the sidecar is broadcast-small by
    // contract, so both the read and the stamp's write bypass the
    // scheduler outright — a DML statement pays ZERO jobs for its
    // stamp (was two; the difference is real in per-micro-batch
    // commit loops — st21/st22's shape).
    val rows: Seq[(String, Long, Long)] =
      sidecarRowsLocal(spark, table).getOrElse(Nil)
    val v = rows.map(_._3).maxOption.getOrElse(0L) + 1
    // Delete versions whose coordinates live in the dropped files can
    // no longer serve their feed — mark them (see [[LostPrefix]]).
    val lost: Seq[Long] =
      if (dropped.isEmpty) Nil
      else rows.collect { case (f, p, lv) if p >= 0 && dropped(f) => lv }
        .distinct
    val kept =
      if (dropped.isEmpty) rows
      else rows.filter { case (f, p, _) => p == -1L || !dropped(f) }
    val sentinels = Seq(("_hwm", -1L, v),
        (s"$TsPrefix${clockMs()}", -1L, v), (s"$OpPrefix$op", -1L, v)) ++
      added.sorted.map(n => (s"$AddPrefix$n", -1L, v)) ++
      copied.sorted.map(p => (s"$CopyPrefix$p", -1L, v)) ++
      lost.map(lv => (s"$LostPrefix$lv", -1L, lv))
    writeSidecarRows(spark, new Path(stage, "_dv"),
      kept ++ deleted.map { case (f, p) => (f, p, v) } ++ sentinels)
    v
  }

  /** Is the change-data-feed's IMAGE RECORDING enabled for this table —
    * Delta's `delta.enableChangeDataFeed` table property, same gate:
    * UPDATE/MERGE record their row images at DML time only when set
    * (the recording costs one extra bounded scan per statement), and
    * `table_changes` over an unrecorded UPDATE/MERGE version fails
    * loudly naming the property. DELETE (sidecar coordinates) and
    * INSERT/COPY (`_add:` sentinels) feed for free, property or not. */
  private[graft] def cdfEnabled(spark: SparkSession,
      table: String): Boolean = {
    val p = SnapshotCommit.properties(spark, table)
    Seq("delta.enableChangeDataFeed", "graft.enableChangeDataFeed")
      .exists(k => p.get(k).exists(_.equalsIgnoreCase("true")))
  }

  /** The COPY INTO idempotence ledger: every source path a previous
    * COPY loaded (bounded — one sentinel per ingested file). */
  private[graft] def copiedSources(spark: SparkSession,
      table: String): Set[String] =
    sidecarRowsLocal(spark, table).getOrElse(Nil)
      .collect { case (f, p, _) if p < 0 && f.startsWith(CopyPrefix) =>
        f.substring(CopyPrefix.length) }.toSet

  /** Record an UPDATE version's row images (Delta's `_change_data`):
    * `rows` must already carry change_type/commit_version. One bounded
    * write — images are proportional to the statement's matched rows,
    * never the table. Written BEFORE the commit publishes; a crashed
    * commit leaves an orphan directory no stamped version references
    * (harmless, reclaimed when a later attempt reuses the number or by
    * vacuum). */
  private[graft] def recordImages(spark: SparkSession, table: String,
      v: Long, rows: DataFrame): Unit = {
    val dir = changesDir(spark, table, v)
    rows.write.mode("overwrite").parquet(dir.toString)
  }

  /** Drop every recorded image at or below `cutoff` (vacuum) or all of
    * them (compact / full-replace, cutoff = Long.MaxValue). */
  private[graft] def pruneImages(spark: SparkSession, table: String,
      cutoff: Long): Unit = {
    val root = new Path(SnapshotCommit.rootDir(spark, table),
      ChangesDirName)
    val f = fs(spark, root)
    if (!f.exists(root)) return
    f.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
          n.length > 1 && n.drop(1).toLong <= cutoff)
        f.delete(st.getPath, true)
    }
    if (f.listStatus(root).isEmpty) f.delete(root, false)
  }

  /** Do the sidecar `files` hold a DATA coordinate (p >= 0)? Decided
    * from their parquet footers alone — the `p` column's min/max
    * statistics, no row read and no Spark job — so the check costs the
    * same at any sidecar size. A non-empty file whose footer gives `p`
    * no usable range counts as holding coordinates. */
  private def holdsCoordinates(spark: SparkSession,
      files: Seq[Path]): Boolean = {
    val lines = StatsSkipping.footerLinesAll(
      spark.sparkContext.hadoopConfiguration, files, Seq("p"))
      .map(_.split('\t'))
    val rows = lines.collect {
      case Array(f, StatsSkipping.RowsCol, _, n, _) => f -> n.toLong }.toMap
    val pMax = lines.collect {
      case Array(f, "p", "long", _, mx) => f -> mx.toLong }.toMap
    files.exists(f => rows(f.getName) > 0 &&
      pMax.get(f.getName).forall(_ >= 0))
  }

  /** The sidecar's columns: data file basename, row position, change
    * version. */
  private val SidecarSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "f STRING, p BIGINT, v BIGINT")

  /** `base` minus the sidecar coordinates stamped <= `v`, the sidecar
    * read by path from the current version's `_dv` directory, resolved
    * once for both the check and the join. The IDENTITY while the
    * sidecar holds no data coordinate ([[holdsCoordinates]]): sentinel
    * rows (p = -1) match no data row, so a table that was only ever
    * inserted into, updated or merged reads with no join and no
    * broadcast job. */
  private def maskAt(spark: SparkSession, table: String, base: DataFrame,
      v: Long): DataFrame = dvDir(spark, table) match {
    case Some(d) if holdsCoordinates(spark, sidecarFiles(spark, d)) =>
      val sc = spark.read.schema(SidecarSchema).parquet(d.toString)
      // The sidecar's key columns are RENAMED before the join: a user
      // table legitimately carrying a column named `f` or `p` would
      // otherwise make the join condition ambiguous and every DV read
      // throw AMBIGUOUS_REFERENCE. (`_dv_`-prefixed names remain
      // reserved, as withCoords already requires.)
      withCoords(base)
        .join(broadcast(sc.filter(col("v") <= v)
            .select(col("f").as("_dv_f"), col("p").as("_dv_p"))),
          col("_dv_file") === col("_dv_f") &&
            col("_dv_pos") === col("_dv_p"),
          "left_anti")
        .drop("_dv_file", "_dv_pos")
    case _ => base
  }

  /** RESTORE TABLE ... TO VERSION AS OF `v`: one atomic commit with the
    * data files linked unchanged and every DATA sidecar entry stamped
    * after `v` dropped — rolling back deletes is metadata work.
    * Sentinels survive the rollback, so [[version]] (the high-water
    * mark) does not move backwards and later deletes never reuse a
    * historical version number. Restoring below a vacuum's floor
    * throws: those states are physically unreconstructible. The
    * sidecar is read and rewritten on the driver, like the stamp path:
    * no Spark job.
    */
  def restore(spark: SparkSession, table: String, v: Long): Unit =
    sidecarRowsLocal(spark, table).foreach { rows0 =>
      // Below a vacuum's floor the rows are PHYSICALLY gone (folded into
      // rewritten files) — no metadata operation can bring them back, so
      // restoring there must error, exactly as Delta's RESTORE does when
      // the target version's files were vacuumed; silently committing
      // would publish a state missing every row deleted at or below the
      // floor while claiming to BE the pre-delete state.
      val floor = rows0.collect { case ("_floor", _, fv) => fv }
        .maxOption.getOrElse(0L)
      require(v >= floor,
        s"cannot restore $table to delete version $v: vacuum folded " +
          s"versions <= $floor into the data files; states below the " +
          "floor are no longer reconstructible")
      SnapshotCommit.commit(spark, table, operation = "RESTORE") { dir =>
        // Re-derived per attempt (see the commit write-closure contract).
        // SENTINEL rows (p < 0: the vacuum floor and the _hwm version
        // stamps) are kept REGARDLESS of their stamp — they carry the
        // table's high-water mark, so the next delete continues the
        // version chain above every number history has ever used
        // instead of re-issuing one (version-number reuse would
        // retroactively change what an already-returned readAt anchor
        // means).
        val rows = sidecarRowsLocal(spark, table)
          .getOrElse(sys.error(s"$table sidecar vanished during restore"))
        val filtered = rows.filter { case (_, p, rv) => rv <= v || p < 0 }
        // The versions whose delete entries this rollback DROPS can no
        // longer serve their change feed — mark them (r17, the same
        // honesty contract as a touched-file rewrite's _lost: markers;
        // without it a table_changes range over a restored-away delete
        // version silently returns zero rows instead of erroring).
        val rolled = rows.collect {
          case (_, p, rv) if rv > v && p >= 0 => rv }.distinct
        val lostMarks = filtered ++
          rolled.map(lv => (s"$LostPrefix$lv", -1L, lv))
        writeSidecarRows(spark, new Path(s"$dir/_dv"), lostMarks)
        val cur = SnapshotCommit.currentLocation(spark, table).get
        linkDataFiles(spark, cur, new Path(dir))
        StatsSkipping.refreshStats(spark, cur, new Path(dir))
        SnapshotCommit.carryBatchId(spark, cur, new Path(dir))
      }
    }

  /** `VACUUM ... DRY RUN`: the files a vacuum at `cutoff` WOULD
    * rewrite (the ones holding delete coordinates stamped at or below
    * it) — the same [[foldedCoords]] over the same driver-read sidecar
    * rows the real vacuum uses, so no data IO, no Spark job, nothing
    * touched. Delta's DRY RUN lists up to 1000 paths; same bound here. */
  def vacuumDryRun(spark: SparkSession, table: String,
      cutoff: Long): Seq[String] =
    foldedCoords(sidecarRowsLocal(spark, table).getOrElse(Nil), cutoff)
      .keys.toSeq.sorted.take(1000)

  /** The coordinates a vacuum at `cutoff` folds: per data-file basename,
    * the distinct positions deleted at or below it, ascending. The keys
    * are the files the vacuum rewrites. */
  private def foldedCoords(rows: Seq[(String, Long, Long)],
      cutoff: Long): Map[String, Array[Long]] =
    rows.collect { case (f, p, v) if p >= 0 && v <= cutoff => (f, p) }
      .groupMap(_._1)(_._2)
      .map { case (f, ps) => f -> ps.distinct.sorted.toArray }

  /** VACUUM with a retention floor: fold every delete stamped `<= cutoff`
    * INTO the data files and drop those sidecar entries — Delta's
    * `VACUUM` trade, where versions older than the retention window stop
    * being readable (time travel below the floor returns the floor
    * state) and the storage they pinned is reclaimed.
    *
    * Unlike [[compact]] (which folds EVERYTHING and drops the whole
    * history), vacuum must keep versions `> cutoff` readable, which is
    * the hard part: rewriting a file renumbers `row_index`, so every
    * surviving sidecar entry that points into a rewritten file needs its
    * physical coordinates REBASED. The sidecar is read ONCE, on the
    * driver (as [[stampVersion]] reads it for every DML commit); the
    * folded coordinates, the affected files (those holding a folded
    * row), the kept sentinels and the rebased sidecar all derive from
    * those rows, and [[writeSidecarRows]] writes the result.
    *
    * Write layout: survivors are hash-partitioned by source file and
    * written `partitionBy` a per-file group id, each group sorted by old
    * position — one task owns a group, so each group directory holds
    * exactly one part file holding the file's survivors in ascending
    * old-position order. A file whose every row folds leaves no group
    * and is not carried. The group files, the carried links AND the
    * rebased sidecar then publish as ONE snapshot commit — data and
    * vectors can never be observed out of step.
    *
    * Rebase map: survivors keep their old-position order and
    * `row_index` is dense, so a kept coordinate `(f, p)` of an affected
    * file becomes `(newName(f), p - |{q in folded(f) : q < p}|)` —
    * arithmetic on the sidecar rows, no scan. A kept coordinate that is
    * itself folded (a row deleted again after the cutoff) names a row
    * the rewrite removed, and is dropped.
    *
    * Cost: one scan of the affected files (the staged rewrite); untouched
    * files are carried by link, so vacuum cost tracks delete locality,
    * not table size.
    *
    * TWO sentinel rows are appended to the sidecar (synthetic
    * coordinates, p = -1, match no data row — harmless to reads):
    * `(_floor, -1, cutoff)` records how far history was PHYSICALLY
    * folded — [[restore]]'s reconstructibility check reads exactly this
    * — and `(_hwm, -1, max(cutoff, version))` carries the table's
    * version high-water mark, keeping [[version]] monotonic even when
    * vacuum folds every real entry (the rebased sidecar drops all PRIOR
    * `_hwm`/`_floor` rows, so the mark must be restated). They are
    * distinct values with distinct jobs: a typical vacuum has cutoff <
    * HWM, and folding the two into one `_floor` stamped at the HWM (the
    * pre-round-10 form) made restore reject every version in
    * (cutoff, HWM] even though the kept/rebased entries deliberately
    * keep those states readable.
    */
  def vacuum(spark: SparkSession, table: String, cutoff: Long): Unit = {
    val rows = sidecarRowsLocal(spark, table).getOrElse(return)
    val folded = foldedCoords(rows, cutoff)
    if (folded.isEmpty) return
    val affected = folded.keys.toSeq.sorted

    val hconf = spark.sparkContext.hadoopConfiguration
    val cur = SnapshotCommit.currentLocation(spark, table).get
    val schema = spark.table(table).schema
    val dataCols = schema.fieldNames.toSeq

    // Survivors of the affected files. Renamed keys (same reason as
    // readAt): the anti-join mixes these with the USER table's columns,
    // where a column named `f` or `p` would make the condition ambiguous.
    val foldedDf = spark.createDataFrame(folded.toSeq.flatMap {
        case (f, ps) => ps.toSeq.map(p => (f, p)) })
      .toDF("_fold_f", "_fold_p")
    val gfIdx = affected.zipWithIndex
    val survivors = spark.read.schema(schema)
      .parquet(affected.map(n => new Path(cur, n).toUri.getPath): _*)
      .withColumn("_f", substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn("_p", col("_metadata.row_index"))
      .join(broadcast(foldedDf),
        col("_f") === col("_fold_f") && col("_p") === col("_fold_p"),
        "left_anti")

    // One part file per affected source file, rows in old-position order.
    val staging = spark.conf.get("spark.sql.warehouse.dir") +
      s"/_graft_staging/${table}_dv_vacuum"
    val stagingPath = new Path(staging)
    val sfs = stagingPath.getFileSystem(hconf)
    sfs.delete(stagingPath, true)
    survivors
      .withColumn("_gf", element_at(typedLit(gfIdx.toMap), col("_f")))
      .repartition(col("_gf"))
      .sortWithinPartitions(col("_gf"), col("_p"))
      .select(dataCols.map(col) :+ col("_gf"): _*)
      .write.partitionBy("_gf").parquet(staging)

    // Each affected file with survivors -> (its staged part file, its
    // new basename); a file whose every row folded leaves no group.
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val rewritten: Map[String, (Path, String)] = gfIdx.flatMap {
      case (f, i) =>
        val dir = new Path(stagingPath, s"_gf=$i")
        if (!sfs.exists(dir)) None
        else {
          val parts = sfs.listStatus(dir)
            .filter(_.getPath.getName.endsWith(".parquet"))
          require(parts.length == 1, "expected one part file per vacuum " +
            s"group, got ${parts.length} in $dir")
          val part = parts.head.getPath
          Some(f -> (part, s"vacuum-$nonce-$i-${part.getName}"))
        }
    }.toMap

    // The rebased sidecar: data entries stamped after the cutoff (the
    // scaladoc's rebase map); the COPY INTO ledger, always — losing it
    // would re-ingest loaded files; and the _ts:/_op:/_lost:/_add:
    // sentinels of versions AT or above the cutoff, which stay readable
    // (the cutoff version IS the floor state), so their TIMESTAMP AS OF
    // anchors and change feed keep answering. Keeping the cutoff's own
    // _ts: also keeps versionAtTimestamp's completeness check satisfiable
    // after a FULL fold (a `> cutoff` filter made every later TIMESTAMP
    // AS OF fail). An _add: follows its file's rename, and goes with a
    // file folded away entirely (the feed then fails loudly on that
    // span, like Delta).
    def renamed(f: String): Option[String] =
      if (folded.contains(f)) rewritten.get(f).map(_._2) else Some(f)
    val kept = rows.flatMap {
      case (f, p, v) if p >= 0 =>
        if (v <= cutoff) None
        else folded.get(f) match {
          case None => Some((f, p, v))
          case Some(ps) =>
            val i = java.util.Arrays.binarySearch(ps, p)
            // i < 0: p survives, with -i - 1 folded positions below it.
            if (i >= 0) None else renamed(f).map(nf => (nf, p + i + 1, v))
        }
      case (f, p, v) if f.startsWith(CopyPrefix) => Some((f, p, v))
      case (f, p, v) if v >= cutoff && f.startsWith(AddPrefix) =>
        renamed(f.substring(AddPrefix.length))
          .map(n => (s"$AddPrefix$n", p, v))
      case (f, p, v) if v >= cutoff && (f.startsWith(TsPrefix) ||
          f.startsWith(OpPrefix) || f.startsWith(LostPrefix)) =>
        Some((f, p, v))
      case _ => None
    }
    val newSidecar = kept ++ Seq(("_floor", -1L, cutoff),
      ("_hwm", -1L, math.max(cutoff, rows.map(_._3).max)))

    // ONE atomic publish: rebased sidecar + rewritten groups (moved in
    // by rename; staging is private to this call) + carried links.
    // maxAttempts = 1: the rewrite and rebase derive from the PRE-commit
    // sidecar and cannot rebase onto a concurrent writer's version — a
    // lost claim surfaces as ConcurrentCommitException, as a conflicting
    // Delta maintenance transaction aborts; the finally then reclaims
    // the staged copy of every affected file.
    try SnapshotCommit.commit(spark, table, maxAttempts = 1,
        operation = "VACUUM") { dir =>
      val to = new Path(dir)
      writeSidecarRows(spark, new Path(to, "_dv"), newSidecar)
      rewritten.values.foreach { case (part, name) =>
        require(sfs.rename(part, new Path(to, name)),
          s"could not move vacuum group $part into the staged snapshot")
      }
      linkDataFiles(spark, cur, to, except = affected.toSet)
      // Carried files reuse their sidecar rows; the rewritten vacuum
      // groups get footer-recomputed stats (metadata-only).
      StatsSkipping.refreshStats(spark, cur, to)
      SnapshotCommit.carryBatchId(spark, cur, to)
    } finally sfs.delete(stagingPath, true)
    pruneImages(spark, table, cutoff) // folded UPDATE images go too
    spark.sql(s"REFRESH TABLE $table")
  }

  /** The (delete version, commit epoch-millis) map recorded by the
    * `_ts:` sentinels, ascending by version. Deletes predating the
    * sentinel (pre-r16 sidecars) are absent from it. */
  private def tsAnchors(spark: SparkSession,
      table: String): Seq[(Long, Long)] =
    sidecarRowsLocal(spark, table).getOrElse(Nil).collect {
      case (f, p, v) if p < 0 && f.startsWith(TsPrefix) =>
        v -> f.substring(TsPrefix.length).toLong
    }.sortBy(_._1)

  /** Resolve `TIMESTAMP AS OF <tsMs>` on the delete-version axis: the
    * LATEST delete version committed at or before `tsMs` (Delta's
    * latest-version-<=-timestamp rule), 0 (the pre-delete state) for a
    * timestamp between table creation and the first delete. Loud
    * failures, Delta-style:
    *  - a timestamp BEFORE the table existed (earlier than the snapshot
    *    root's `_incarnation` marker, stamped at first commit) errors —
    *    there is no version to serve;
    *  - a table whose delete history PREDATES timestamp recording (a
    *    delete version with no `_ts:` sentinel) errors rather than
    *    silently resolving against a partial timeline.
    */
  def versionAtTimestamp(spark: SparkSession, table: String,
      tsMs: Long): Long = {
    val root = SnapshotCommit.rootDir(spark, table)
    val marker = new Path(root, SnapshotCommit.IncarnationMarker)
    val mfs = fs(spark, marker)
    require(mfs.exists(marker),
      s"TIMESTAMP AS OF on $table: table has no commit timeline " +
        "(not snapshot-committed, or never committed)")
    val created = mfs.getFileStatus(marker).getModificationTime
    require(tsMs >= created,
      s"TIMESTAMP AS OF on $table: $tsMs is before the table's first " +
        s"commit ($created) — no version existed then")
    val anchors = tsAnchors(spark, table)
    // Every delete version must carry a timestamp, or resolution would
    // silently skip the unstamped ones. Delete versions are exactly the
    // `_hwm` stamps (one per delete; vacuum restates only the HWM).
    sidecarRowsLocal(spark, table).foreach { rows =>
      val stamped = anchors.map(_._1).toSet
      val hwms = rows.collect { case ("_hwm", _, v) => v }.toSet
      val missing = hwms -- stamped
      require(missing.isEmpty,
        s"TIMESTAMP AS OF on $table: delete version(s) " +
          s"${missing.toSeq.sorted.mkString(", ")} predate timestamp " +
          "recording — the timeline is partial; use VERSION AS OF")
    }
    anchors.filter(_._2 <= tsMs).map(_._1).maxOption.getOrElse(0L)
  }

  /** The table as of wall-clock `tsMs` — [[readAt]] through
    * [[versionAtTimestamp]]. */
  def readAtTimestamp(spark: SparkSession, table: String,
      tsMs: Long): DataFrame =
    readAt(spark, table, versionAtTimestamp(spark, table, tsMs))

  /** Delta's timestamp-form CDC START bound: the feed from wall-clock
    * `tsMs` serves every change version committed AT OR AFTER it, and
    * [[changesBetween]]'s `fromV` is EXCLUSIVE — so this returns the
    * latest change version committed strictly BEFORE `tsMs` (0 when
    * the first stamped version is already at/after it). Validation
    * rides on [[versionAtTimestamp]] (pre-creation anchors and partial
    * timelines error loudly); a start timestamp past the LATEST change
    * commit errors like Delta's "timestamp after the latest commit"
    * instead of serving a silently-empty feed.
    */
  def changeStartAtTimestamp(spark: SparkSession, table: String,
      tsMs: Long): Long = {
    val from = versionAtTimestamp(spark, table, tsMs - 1)
    val latest = tsAnchors(spark, table).map(_._2).maxOption
    require(latest.exists(_ >= tsMs) || from < version(spark, table),
      s"table_changes($table): start timestamp $tsMs is after the " +
        "latest change commit" +
        latest.map(l => s" ($l)").getOrElse("") +
        " — Delta errors rather than serving an empty feed")
    from
  }

  /** `VACUUM t RETAIN n HOURS` (Delta's actual retention form): fold
    * every delete version whose commit timestamp is older than
    * `now - hours` — cutoff = the newest version outside the retention
    * window, resolved from the `_ts:` sentinels; versions inside the
    * window (and unstamped legacy versions, conservatively) survive.
    * Returns the cutoff folded (0 = nothing old enough). */
  def vacuumRetainHours(spark: SparkSession, table: String,
      hours: Long): Long = {
    val cutoff = vacuumHoursCutoff(spark, table, hours)
    if (cutoff > 0) vacuum(spark, table, cutoff)
    cutoff
  }

  /** The cutoff a `RETAIN n HOURS` retention resolves to RIGHT NOW —
    * shared by the real vacuum and its DRY RUN. */
  def vacuumHoursCutoff(spark: SparkSession, table: String,
      hours: Long): Long = {
    val horizon = clockMs() - hours * 3600L * 1000L
    tsAnchors(spark, table)
      .filter(_._2 <= horizon).map(_._1).maxOption.getOrElse(0L)
  }

  /** Delta's `table_changes(t, v1, v2)`: the row-level change feed of
    * versions (v1, v2] on the change-version axis, each row tagged
    * `change_type` / `commit_version`. Arms, dispatched per version on
    * the `_op:` sentinel:
    *
    *  - DELETE versions (and every pre-r17 unstamped version): the rows
    *    REMOVED, `change_type = 'delete'`, first-delete semantics (a
    *    re-deleted coordinate reports the version that first killed
    *    it). One scan + a broadcast of the bounded sidecar — never a
    *    per-version diff loop.
    *  - WRITE/COPY versions (INSERT INTO, COPY INTO): the appended
    *    files' rows, `change_type = 'insert'`, served from the files
    *    the `_add:` sentinels name (the rows AS INSERTED — a later
    *    delete shows separately, exactly Delta).
    *  - UPDATE versions: the recorded pre/post images
    *    (`update_preimage` / `update_postimage`) from the root-level
    *    `_changes` store.
    *
    * LOUD on everything it cannot answer, like Delta's TVF: a range
    * reaching beyond the latest change version, below a vacuum's
    * `_floor`, across a version whose operation the feed does not
    * record (MERGE), or whose inserted files a later rewrite/vacuum
    * physically replaced — each errors instead of silently returning a
    * partial feed (review r16: the delete-only feed answered less than
    * the name promised; the r16 ADVICE: out-of-range answered empty).
    */
  def changesBetween(spark: SparkSession, table: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV <= toV,
      s"table_changes($table, $fromV, $toV): empty/negative range")
    // The sidecar is read ONCE per request, on the driver: the floor,
    // the in-range sentinels, the high-water mark and the first-delete
    // map all derive from those rows, with no Spark job (the streaming
    // CDC path pays this per micro-batch, in getBatch). Nothing is
    // memoized across calls.
    val rows = sidecarRowsLocal(spark, table)
    val hwm = rows.flatMap(_.map(_._3).maxOption).getOrElse(0L)
    require(toV <= hwm,
      s"table_changes($table, $fromV, $toV): version $toV is beyond " +
        s"the table's latest change version $hwm — Delta errors on " +
        "out-of-range versions rather than serving a partial feed")
    // ONE table plan per request: its schema feeds every arm.
    val raw = spark.table(table)
    val schema = raw.schema
    val cols = schema.fieldNames.toSeq
    def shaped(df: DataFrame): DataFrame =
      df.select(cols.map(col) :+ col("change_type") :+
        col("commit_version"): _*)
    val empty = shaped(raw.limit(0)
      .withColumn("change_type", lit(""))
      .withColumn("commit_version", lit(0L)))
    val all = rows.getOrElse(return empty)
    val floor = all.collect { case ("_floor", _, v) => v }
      .maxOption.getOrElse(0L)
    val sentinels = all.collect {
      case (f, p, v) if p < 0 && v > fromV && v <= toV => f -> v
    }
    // DELETE arm input: first-delete semantics over the data entries,
    // grouped on the driver into a broadcast local relation. Its
    // coordinates NAME the files their rows live in, so the arm scans
    // exactly those files: the delete arm costs the files a version
    // touched, not the table (the insert arm's discipline too).
    val firstDelRows: Seq[(String, Long, Long)] = all
      .collect { case (f, p, v) if p >= 0 => (f, p) -> v }
      .groupMapReduce(_._1)(_._2)(math.min)
      .collect { case ((f, p), v) if v > fromV && v <= toV => (f, p, v) }
      .toSeq
    val firstDel = spark.createDataFrame(firstDelRows)
      .toDF("_dv_f", "_dv_p", "commit_version")
    require(fromV >= floor,
      s"table_changes($table, $fromV, $toV): vacuum folded " +
        s"versions <= $floor into the data files — the change " +
        "feed below the floor is no longer reconstructible")
    // Per-version operation markers in range (sentinels only —
    // bounded). Unmarked versions are pre-r17 deletes.
        val ops: Map[Long, String] = sentinels.collect {
          case (f, v) if f.startsWith(OpPrefix) =>
            v -> f.substring(OpPrefix.length)
        }.toMap
        val unfed = ops.filter { case (_, op) =>
          op != "DELETE" && op != "WRITE" && op != "COPY" &&
            op != "UPDATE" && op != "MERGE" &&
            op != "ALTER" } // ALTER moves no rows
        require(unfed.isEmpty,
          s"table_changes($table, $fromV, $toV): version(s) " +
            s"${unfed.toSeq.sortBy(_._1).map { case (v, o) =>
              s"v$v ($o)" }.mkString(", ")} committed by an operation " +
            "the change feed does not record — narrow the range around " +
            "them")
        val lostVs = sentinels.collect {
          case (f, v) if f.startsWith(LostPrefix) => v }.distinct.sorted
        require(lostVs.isEmpty,
          s"table_changes($table, $fromV, $toV): the delete rows of " +
            s"version(s) ${lostVs.map("v" + _).mkString(", ")} were " +
            "rewritten away by a later UPDATE/MERGE or rolled back by " +
            "RESTORE — that span of the feed is gone; narrow the range")
        // The current version's data files by basename.
        lazy val live = SnapshotCommit.dataFiles(spark, table).toMap
        // The pruned scan reads the named files under the table schema
        // (old files null-fill post-ALTER columns, like the insert arm);
        // names physically gone serve nothing. No in-range deletes: no
        // arm.
        val delPaths = firstDelRows.map(_._1).distinct.flatMap(live.get)
          .map(_.toString)
        val delBase: Option[DataFrame] =
          if (delPaths.isEmpty) None
          else Some(withCoords(
            spark.read.schema(schema).parquet(delPaths: _*)))
        val delArm = delBase.map(b => shaped(b.join(broadcast(firstDel),
            col("_dv_file") === col("_dv_f") &&
              col("_dv_pos") === col("_dv_p"))
          .drop("_dv_file", "_dv_pos", "_dv_f", "_dv_p")
          .withColumn("change_type", lit("delete"))))
          .getOrElse(empty)
        // INSERT arm: the files the in-range _add: sentinels name, one
        // bounded scan per version (rows AS INSERTED — the raw files,
        // not the DV-masked view).
        val addRows: Seq[(String, Long)] = sentinels.collect {
          case (f, v) if f.startsWith(AddPrefix) =>
            f.substring(AddPrefix.length) -> v
        }.toSeq
        val insArms: Seq[DataFrame] = if (addRows.isEmpty) Nil else {
          val gone = addRows.collect {
            case (n, v) if !live.contains(n) => s"$n (v$v)" }
          require(gone.isEmpty,
            s"table_changes($table, $fromV, $toV): inserted file(s) " +
              s"${gone.take(3).mkString(", ")} were rewritten or " +
              "vacuumed after their insert — that span of the feed is " +
              "physically gone; narrow the range")
          addRows.groupBy(_._2).toSeq.map { case (v, rs) =>
            shaped(spark.read.schema(schema)
              .parquet(rs.map(r => live(r._1).toString): _*)
              .withColumn("change_type", lit("insert"))
              .withColumn("commit_version", lit(v)))
          }
        }
        // UPDATE arm: recorded images. Read under an explicit schema so
        // images written before a later widening still align.
        val imgSchema = org.apache.spark.sql.types.StructType(
          schema.fields.toSeq :+
            org.apache.spark.sql.types.StructField("change_type",
              org.apache.spark.sql.types.StringType) :+
            org.apache.spark.sql.types.StructField("commit_version",
              org.apache.spark.sql.types.LongType))
        val updArms: Seq[DataFrame] = ops.collect {
          case (v, op @ ("UPDATE" | "MERGE")) =>
            val d = changesDir(spark, table, v)
            require(fs(spark, d).exists(d),
              s"table_changes($table, $fromV, $toV): v$v is " +
                s"a${if (op == "UPDATE") "n" else ""} $op committed " +
                "WITHOUT change-data-feed images — set ALTER TABLE " +
                s"$table SET TBLPROPERTIES ('delta." +
                "enableChangeDataFeed' = 'true') before the DML, or " +
                "narrow the range around it")
            shaped(spark.read.schema(imgSchema).parquet(d.toString))
        }.toSeq
        (delArm +: (insArms ++ updArms)).reduce(_.unionByName(_))
  }

  /** Fold the vectors into the files: one commit that rewrites the
    * survivors and carries no sidecar (REORG ... APPLY PURGE). */
  def compact(spark: SparkSession, table: String): Unit = {
    ensureSnapshot(spark, table)
    SnapshotCommit.commit(spark, table, operation = "OPTIMIZE") { dir =>
      // Re-derived per attempt: the live view subtracts the then-current
      // sidecar, so a retry after a concurrent delete folds THAT delete
      // in too instead of resurrecting its rows.
      read(spark, table).write.parquet(dir)
      // Every file is a rewrite here: stats recompute from the new
      // footers when the folded version carried a sidecar; the stream
      // progress marker carries verbatim (maintenance moves no
      // progress).
      SnapshotCommit.currentLocation(spark, table).foreach { cur =>
        StatsSkipping.refreshStats(spark, cur, new Path(dir))
        SnapshotCommit.carryBatchId(spark, cur, new Path(dir))
      }
    }
    pruneImages(spark, table, Long.MaxValue) // history folded away
  }
}
