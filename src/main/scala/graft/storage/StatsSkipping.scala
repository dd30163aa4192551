package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-level min/max data skipping — the engine's analogue of
  * Delta's per-file stats in the transaction log (and Iceberg's
  * manifest column bounds): at commit time, record each data file's
  * min/max for chosen columns in a `_stats` sidecar INSIDE the version
  * directory; at read time, intersect the predicate's range with the
  * recorded bounds and hand Spark ONLY the surviving files.
  *
  * Why this matters at 100 TB when parquet footers already carry
  * min/max: footer-based skipping still OPENS every file (one object-
  * store GET per footer — at a million files, a million round-trips
  * before the first row). Manifest stats cost one sidecar read for the
  * whole table; with a range-clustered layout (b2/b9's write-side
  * investment) a point/range query plans a file list proportional to
  * the QUERY, not the table. The sidecar is written into the staged
  * directory, so it versions, publishes, and travels with its snapshot
  * atomically — no separate consistency protocol.
  *
  * TWO read paths consume the sidecar:
  *  - [[readRange]] — the explicit API (deletion-vector-aware: the
  *    pruned scan is masked through the table's live DV before rows
  *    surface, so a DV-bearing table never resurrects deleted rows);
  *  - [[StatsSkippingRule]] — the DEFAULT path: an optimizer rule that
  *    rewrites ANY `Filter` over a registered parquet table whose
  *    directory carries a `_stats` sidecar to scan only the surviving
  *    files. Ordinary `spark.table(...)`/SQL reads with a pushable
  *    point/range predicate prune without calling any Graft API — the
  *    reference's fact is CLUSTER BY'd on four keys precisely so scans
  *    prune (`scripts/gold/fact_order_items.sql:9`).
  *
  * Stats are TYPED per column (`long` — integers, dates as epoch days,
  * timestamps as micros; `double`; `decimal`; `string` — URL-encoded,
  * compared as unsigned UTF-8 bytes, parquet's own string ordering), so
  * pruning covers the reference's clustering keys (ids, DATE, money
  * DECIMAL), not just a single Long column.
  *
  * Pruning is CONSERVATIVE: a file missing from the sidecar, a column
  * without a recorded range, or a predicate shape
  * the extractor does not understand all mean "read the file". Nulls:
  * stats record non-null min/max (Spark's min/max ignore nulls), so a
  * file of only nulls records no row and is conservatively read.
  */
object StatsSkipping {

  private val StatsFile = "_stats"
  private[storage] val Header = "#graft-stats-v2"

  /** Pseudo-column under which a data file's ROW COUNT is recorded
    * (`<base>\t#rows\trows\t<n>\t<n>`): `#` cannot appear in an
    * engine-written identifier, so it can never collide with a real
    * column, and the pruning reader only ever looks up predicate
    * columns, so these lines are invisible to skipping. They exist for
    * [[MetadataAggRule]] — answering `count(*)` (and, with the min/max
    * lines, `min`/`max`) from the manifest alone, Delta's
    * metadata-only-query behavior. Lifecycle: [[footerLines]] emits the
    * line for every file it stats (commit AND maintenance rewrites);
    * [[refreshStats]] carries it verbatim for carried basenames (same
    * bytes, same rows).
    */
  private[storage] val RowsCol = "#rows"

  /** One column's recorded range in one file: a type tag plus encoded
    * min/max (see [[decode]] for the encodings). */
  private[storage] final case class ColRange(tpe: String, min: String,
      max: String)

  /** Commit through [[SnapshotCommit.commit]], then append a per-file
    * min/max sidecar for `statsCols` covering every parquet file the
    * writer produced in the staged directory. Stats key on the file
    * BASENAME — the stage directory is renamed to `v<N>` at publish,
    * so absolute paths recorded at stage time would dangle.
    *
    * Stats come from the parquet FOOTERS the writer just produced
    * (metadata-only I/O, the rowGroupRanges pattern) — never a second
    * scan of the data: file min/max is the row groups' min of mins /
    * max of maxes. A column chunk without usable stats (all-null, or a
    * physical type the encoder does not cover, e.g. INT96 timestamps)
    * writes NO sidecar line, which the reader treats as "always read"
    * — the conservative contract.
    *
    * The stage layout must be FLAT (no partitionBy subdirectories):
    * stats key on basenames, and a nested layout would silently degrade
    * skipping to none — so it is rejected loudly instead.
    */
  def commitWithStats(spark: SparkSession, table: String,
      statsCols: Seq[String], operation: String = "WRITE")(
      write: String => Unit): Path =
    SnapshotCommit.commit(spark, table, operation = operation) { stage =>
      write(stage)
      import scala.jdk.CollectionConverters._
      val hconf = spark.sparkContext.hadoopConfiguration
      val stageP = new Path(stage)
      val fs = stageP.getFileSystem(hconf)
      val entries = fs.listStatus(stageP).toSeq
      require(!entries.exists(e => e.isDirectory &&
          !e.getPath.getName.startsWith("_") &&
          !e.getPath.getName.startsWith(".")),
        s"commitWithStats($table) requires a flat stage layout: stats " +
          "key on file basenames, so a partitionBy/nested write would " +
          "silently lose its skipping — write unpartitioned, or commit " +
          "via SnapshotCommit.commit without stats")
      val lines = footerLinesAll(hconf, entries
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getPath), statsCols)
      writeSidecar(hconf, stageP, lines)
    }

  /** Single-column convenience (the original b13 surface). */
  def commitWithStats(spark: SparkSession, table: String, statsCol: String)(
      write: String => Unit): Path =
    commitWithStats(spark, table, Seq(statsCol))(write)

  /** [[footerLines]] over many files with a bounded driver-side pool
    * (guide §2.6 — the footer opens are independent IO round-trips; on
    * an object store they are GETs that belong in flight together, and
    * even on local disk the per-open parse cost is ~10-20 ms, which at
    * a statement's staged-file counts serializes into a visible commit
    * tail). Work is file-proportional to the STATEMENT's own output,
    * never the table. Deterministic: per-file results concatenate in
    * input order (and the sidecar writer sorts lines anyway). */
  private[storage] def footerLinesAll(
      hconf: org.apache.hadoop.conf.Configuration, files: Seq[Path],
      cols: Seq[String]): Seq[String] =
    if (files.sizeIs <= 1) files.flatMap(footerLines(hconf, _, cols))
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, files.size),
        (r: Runnable) => {
          val t = new Thread(r, "graft-footer-stats")
          t.setDaemon(true)
          t
        })
      val ec = ExecutionContext.fromExecutorService(pool)
      try Await.result(
        Future.traverse(files)(f =>
          Future(footerLines(hconf, f, cols))(ec))(
          implicitly, ec),
        Duration.Inf).flatten
      finally pool.shutdown()
    }

  /** The total row count of `files`: the sum of their footers' row
    * counts ([[footerLines]]' `#rows` lines), metadata only. */
  private[graft] def footerRowCount(
      hconf: org.apache.hadoop.conf.Configuration, files: Seq[Path]): Long =
    footerLinesAll(hconf, files, Nil).map(_.split('\t')(3).toLong).sum

  /** One staged parquet file's sidecar lines for `cols` — from its
    * footer (metadata-only, never a data scan): file min/max per column
    * is the row groups' min of mins / max of maxes; a file where any
    * block lacks a usable range for a column records no line for it
    * (conservative).
    */
  private def footerLines(hconf: org.apache.hadoop.conf.Configuration,
      file: Path, cols: Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(file, hconf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      // The file's exact row count, from the same footer — free here,
      // and the one number [[MetadataAggRule]] needs for count(*).
      // Emitted unconditionally (even 0 for an empty schema-bearing
      // part file): a rewrite during maintenance keeps metadata
      // aggregates answerable instead of silently degrading them.
      val rows = blocks.map(_.getRowCount).sum
      val rowsLine = s"${file.getName}\t$RowsCol\trows\t$rows\t$rows"
      rowsLine +: cols.filterNot(_ == RowsCol).flatMap { col =>
        val ranges = blocks.flatMap { block =>
          block.getColumns.asScala
            .find(_.getPath.toDotString == col)
            .flatMap(chunkRange)
        }
        if (ranges.isEmpty || ranges.size != blocks.size) None
        else {
          val tpe = ranges.head.tpe
          if (!ranges.forall(_.tpe == tpe)) None
          else Some(s"${file.getName}\t$col\t$tpe" +
            s"\t${ranges.map(_.min).min(ordering(tpe))}" +
            s"\t${ranges.map(_.max).max(ordering(tpe))}")
        }
      }
    } finally reader.close()
  }

  private def writeSidecar(hconf: org.apache.hadoop.conf.Configuration,
      dir: Path, lines: Seq[String]): Unit = {
    val p = new Path(dir, StatsFile)
    val out = p.getFileSystem(hconf).create(p, false)
    try out.write(lines.sorted.mkString(s"$Header\n", "\n", "\n")
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Write a FRESH `_stats` sidecar for every parquet file in `stage`
    * (footer metadata only, no data scan) — the replace-commit path
    * (INSERT OVERWRITE): the previous sidecar describes files the
    * version no longer contains, so it is recomputed, never carried. */
  private[graft] def recomputeStats(spark: SparkSession, stage: Path,
      cols: Seq[String]): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = stage.getFileSystem(hconf)
    val lines = footerLinesAll(hconf, fs.listStatus(stage).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath), cols)
    writeSidecar(hconf, stage, lines)
  }

  /** LIFECYCLE CARRY: propagate a `_stats` sidecar from the version at
    * `from` into a freshly staged successor at `stage` — called inside
    * the staging closures of every operation that would otherwise
    * silently shed the sidecar (DV delete/restore/vacuum, shallow
    * clone, compaction), so a clustered table's skipping survives its
    * whole maintenance lifetime instead of degrading to none after the
    * first delete. Per staged entry:
    *
    *  - same BASENAME as a file with recorded stats (a carried link or
    *    byte-identical copy — carries never rename):
    *    its rows are reused verbatim. For DV-style carries the data
    *    bytes are unchanged, so the ranges stay exact; row-level
    *    deletes only ever make them conservative-wide, never wrong
    *    (stats SKIP, the mask/filter still decides rows);
    *  - a NEW parquet file (compaction/vacuum rewrite output): stats
    *    recomputed from its footer for the old sidecar's column set —
    *    metadata-only, proportional to the REWRITTEN files;
    *  - a carried file with no recorded stats: no line (conservative).
    *
    * No-op (one existence probe) when `from` carries no sidecar.
    */
  private[graft] def refreshStats(spark: SparkSession, from: Path,
      stage: Path): Unit = {
    val old = loadStats(spark, from).getOrElse(return)
    if (old.isEmpty) return
    val cols = old.values.flatMap(_.keys).toSeq.distinct.sorted
    val hconf = spark.sparkContext.hadoopConfiguration
    val (kept, rewritten) = SnapshotCommit.listData(spark, stage)
      .partition(p => old.contains(p.getName))
    val carried = kept.flatMap { p =>
      val base = p.getName
      old(base).toSeq.map { case (c, r) =>
        s"$base\t$c\t${r.tpe}\t${r.min}\t${r.max}"
      }
    }
    val fresh = rewritten.filter(_.getName.endsWith(".parquet"))
    val lines = carried ++ footerLinesAll(hconf, fresh, cols)
    writeSidecar(hconf, stage, lines)
  }

  /** One column chunk's [min, max] as a typed, encoded [[ColRange]] —
    * None when the chunk has no usable stats (all-null, stats-less, or
    * a physical/logical type the encoder does not cover).
    */
  private def chunkRange(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
      ): Option[ColRange] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val s = c.getStatistics
    if (s == null || s.isEmpty || !s.hasNonNullValue) return None
    val prim = c.getPrimitiveType
    val ann = prim.getLogicalTypeAnnotation
    def enc(v: AnyRef): Option[(String, String)] = (prim.getPrimitiveTypeName, ann) match {
      case (INT32 | INT64, d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
        Some(("decimal", java.math.BigDecimal
          .valueOf(v.toString.toLong, d.getScale).toPlainString))
      case (INT64, t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
        // Catalyst timestamp literals are epoch MICROS — normalize the
        // footer's unit to match, or record nothing. A raw MILLIS value
        // compared against a micros bound would be a 1000x unit
        // mismatch that prunes every file (silent zero-row results).
        t.getUnit match {
          case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS =>
            Some(("long", v.toString))
          case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MILLIS =>
            scala.util.Try(math.multiplyExact(v.toString.toLong, 1000L))
              .toOption.map(m => ("long", m.toString))
          case _ => None // NANOS: catalyst micros floor-div loses exactness
        }
      case (INT32 | INT64, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
        if !i.isSigned =>
        // UINT32/UINT64 stats come back through SIGNED accessors — a
        // value past the sign bit would decode negative and invert the
        // ordering. No stats beats wrong stats.
        None
      case (INT32 | INT64, _) =>
        // Plain ints/longs, signed-int annotations, and DATE (epoch
        // days — exactly the integer catalyst DateType literals carry).
        Some(("long", v.toString))
      case (FLOAT, _) =>
        // Widen BEFORE printing: Float.toString is the shortest FLOAT
        // representation, which re-parsed as a double is a DIFFERENT
        // number than the widened float — off by enough to wrongly
        // skip files on exact-boundary predicates.
        Some(("double", v.asInstanceOf[java.lang.Float].doubleValue.toString))
      case (DOUBLE, _) => Some(("double", v.toString))
      case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
        Some(("string", java.net.URLEncoder.encode(
          v.asInstanceOf[org.apache.parquet.io.api.Binary]
            .toStringUsingUTF8, "UTF-8")))
      case (BINARY | FIXED_LEN_BYTE_ARRAY,
          d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
        Some(("decimal", new java.math.BigDecimal(
          new java.math.BigInteger(
            v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes),
          d.getScale).toPlainString))
      case _ => None // INT96, booleans, raw binary: no comparable stats
    }
    for {
      (tpe, mn) <- enc(s.genericGetMin.asInstanceOf[AnyRef])
      (_, mx) <- enc(s.genericGetMax.asInstanceOf[AnyRef])
    } yield ColRange(tpe, mn, mx)
  }

  /** Decode an encoded stat/bound into its comparable form. */
  private[storage] def decode(tpe: String, s: String): Any = tpe match {
    case "long" => s.toLong
    case "double" => s.toDouble
    case "decimal" => new java.math.BigDecimal(s)
    case "string" =>
      java.net.URLDecoder.decode(s, "UTF-8").getBytes("UTF-8")
  }

  /** Compare two DECODED values of the same stat type. Strings compare
    * as unsigned UTF-8 bytes — parquet's UNSIGNED string ordering, so
    * pruning decisions match the order the footer stats were computed
    * under (Java String ordering differs beyond ASCII).
    */
  private[storage] def cmp(tpe: String, a: Any, b: Any): Int = tpe match {
    case "long" =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case "double" =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case "decimal" => a.asInstanceOf[java.math.BigDecimal]
      .compareTo(b.asInstanceOf[java.math.BigDecimal])
    case "string" =>
      java.util.Arrays.compareUnsigned(
        a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  }

  /** Ordering over ENCODED values of one stat type (for folding row
    * groups into a file range). */
  private def ordering(tpe: String): Ordering[String] =
    (x: String, y: String) => cmp(tpe, decode(tpe, x), decode(tpe, y))

  /** Column name recorded for upgraded v1 sidecar lines, which never
    * carried one (v1 was implicitly single-column Long). The name
    * cannot collide with a real column (backticks are not legal in the
    * identifiers this engine writes), so v1 stats serve the Long
    * [[survivingFiles]]/[[readRange]] API — whose callers know their
    * column — through [[v1Fallback]], while the column-keyed default
    * path simply never matches them (conservative).
    */
  private[graft] val V1Col = "`v1`"

  /** Parse a `_stats` sidecar: file basename -> column -> range.
    * v1 lines (headerless, 3 fields: name\tmin\tmax, implicitly Long)
    * upgrade in place under [[V1Col]] — a pre-upgrade table keeps its
    * explicit-API skipping instead of silently losing the write-side
    * clustering investment. Unparseable lines are ignored ("no stats"
    * is the conservative answer, never a crash).
    */
  private[graft] def parseStats(
      txt: String): Map[String, Map[String, ColRange]] =
    txt.split("\n").filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        l.split("\t") match {
          case Array(name, col, tpe, mn, mx) =>
            Some((name, col, ColRange(tpe, mn, mx)))
          case Array(name, mn, mx)
            if scala.util.Try { mn.toLong; mx.toLong }.isSuccess =>
            Some((name, V1Col, ColRange("long", mn, mx)))
          case _ => None
        }
      }
      .groupBy(_._1)
      .map { case (f, rows) =>
        f -> rows.map(r => r._2 -> r._3).toMap
      }

  /** Load (with a small mtime-keyed cache) the `_stats` sidecar of a
    * snapshot/stage directory; None when the directory carries none.
    * The cache makes the DEFAULT-path rule free on repeated reads: one
    * getFileStatus per query instead of re-reading the sidecar.
    */
  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Map[String, Map[String, ColRange]])]()

  /** Directories known to carry NO sidecar. With [[StatsSkippingRule]]
    * installed session-wide, EVERY filtered parquet read probes its
    * parent dirs — without negative caching each optimizer pass pays a
    * store round-trip (an exception-throwing one) per sidecar-less
    * table. Version directories are immutable once published and a
    * sidecar is only ever written into the PRIVATE staging dir before
    * publish, so absence is permanent for a given path — except a
    * destroy-and-rebuild landing on the identical `v<N>` path, which
    * [[invalidate]] (hooked into SnapshotCommit.destroy) clears for
    * this JVM; a cross-process rebuild can at worst suppress skipping
    * (conservative), never mis-prune.
    */
  private val absentCache =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Forget cached sidecar state under `root` (table destroyed). */
  private[storage] def invalidate(root: Path): Unit = {
    val prefix = root.toString
    absentCache.removeIf(_.startsWith(prefix))
    statsCache.keySet.removeIf((k: String) => k.startsWith(prefix))
  }

  /** Build `_stats` sidecars for a HIVE-PARTITIONED layout: one sidecar
    * per leaf directory holding parquet files, from footers only (the
    * same metadata-IO budget as commitWithStats, proportional to file
    * count). With [[StatsSkippingRule]] installed the two prunings then
    * COMPOSE on an ordinary read: Spark's partition pruning picks the
    * directories, the sidecars prune files WITHIN each surviving
    * directory — Delta's partition-columns-plus-file-stats behavior.
    * Partitioned tables cannot take the snapshot-commit path (partition
    * values live in directory names a flat carry would lose), so this
    * is their explicit indexing hook; re-running re-indexes (sidecars
    * are overwritten, caches invalidated). Returns the number of leaf
    * directories indexed. Calling this also REGISTERS `dir` as a
    * probe-allowed root for the optimizer rules, so indexed tables
    * outside the session warehouse prune too (see [[probeAllowed]]).
    */
  def indexLeafDirs(spark: SparkSession, dir: Path,
      statsCols: Seq[String]): Int = {
    // Record the indexed root so [[probeAllowed]] lets the optimizer
    // rules probe under it even when it lives OUTSIDE the session
    // warehouse — the common case for an explicitly-indexed partitioned
    // table (ADVICE r15: without this, sidecars built here were silently
    // ignored by StatsSkippingRule/MetadataAggRule). Bounded: one entry
    // per explicit call.
    // FULLY-QUALIFIED (scheme + authority + path): a bare path would
    // let an s3a://bucketA root authorize probes under the same path on
    // every other filesystem/bucket (review r16).
    indexedRoots.add(qualified(spark, dir))
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(hconf)
    def walk(d: Path): Seq[Path] = {
      val st = fs.listStatus(d).toSeq
      val subdirs = st.filter(s => s.isDirectory &&
        !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
      val hasParquet = st.exists(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet"))
      (if (hasParquet) Seq(d) else Nil) ++
        subdirs.flatMap(s => walk(s.getPath))
    }
    val leaves = walk(dir)
    leaves.foreach { leaf =>
      val lines = fs.listStatus(leaf).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .flatMap(f => footerLines(hconf, f.getPath, statsCols))
      fs.delete(new Path(leaf, StatsFile), false) // idempotent re-index
      writeSidecar(hconf, leaf, lines)
    }
    invalidate(dir) // absent-cache may remember pre-index misses
    leaves.size
  }

  /** Roots explicitly indexed via [[indexLeafDirs]] in this JVM — the
    * optimizer rules may probe under them wherever they live. Entries
    * are FULLY-QUALIFIED URIs (see [[qualified]]). */
  private val indexedRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The path as a fully-qualified URI string (scheme + authority +
    * path) under the session's Hadoop conf — the comparable form for
    * cross-filesystem containment checks. */
  private def qualified(spark: SparkSession, p: Path): String =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString

  /** Path containment with a SEPARATOR BOUNDARY: `/wh-backup` must not
    * count as under `/wh` (ADVICE r15 — a bare startsWith did). */
  private def underRoot(d: String, root: String): Boolean = {
    val r = root.stripSuffix("/")
    d == r || d.startsWith(r + "/")
  }

  /** May the OPTIMIZER RULES probe `dir` for a sidecar? Graft writes
    * sidecars under the session warehouse (snapshot stages and committed
    * table dirs live there) and under roots explicitly handed to
    * [[indexLeafDirs]] — the default-path rules skip the existence probe
    * for everything else: planning an ungrouped aggregate or a filter
    * over a foreign parquet table (a raw source dir, someone else's
    * lake) must not cost store round-trips, even negative-cached ones
    * (ADVICE r14); a hand-placed sidecar elsewhere is found by indexing
    * its root through [[indexLeafDirs]]. Direct API paths
    * (survivingFiles/readRange) are unaffected — they only ever target
    * snapshot directories. A RELATIVE warehouse conf value is resolved
    * against the process working directory (the session does the same)
    * before comparing — a raw relative string never prefix-matches the
    * absolute data paths and would silently disable skipping everywhere. */
  private[storage] def probeAllowed(spark: SparkSession, dir: Path): Boolean = {
    val whRaw = new Path(spark.conf.get("spark.sql.warehouse.dir"))
      .toUri.getPath
    val wh =
      if (whRaw == null || whRaw.startsWith("/")) whRaw
      else new java.io.File(whRaw).getAbsolutePath
    val d = dir.toUri.getPath
    (d != null && wh != null && underRoot(d, wh)) || {
      import scala.jdk.CollectionConverters._
      indexedRoots.size() > 0 && {
        val dq = qualified(spark, dir)
        indexedRoots.asScala.exists(r => underRoot(dq, r))
      }
    }
  }

  private[graft] def loadStats(spark: SparkSession,
      dir: Path): Option[Map[String, Map[String, ColRange]]] = {
    val key = dir.toString
    if (absentCache.contains(key)) return None
    val p = new Path(dir, StatsFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st =
      try fs.getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException =>
          if (absentCache.size > 4096) absentCache.clear() // bound
          absentCache.add(key)
          return None
      }
    statsCache.get(key) match {
      case (m, l, parsed)
        if m == st.getModificationTime && l == st.getLen => Some(parsed)
      case _ =>
        val in = fs.open(p)
        val txt =
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val parsed = parseStats(txt)
        if (statsCache.size > 256) statsCache.clear() // bound, not LRU
        statsCache.put(key, (st.getModificationTime, st.getLen, parsed))
        Some(parsed)
    }
  }

  /** Does `range` intersect [lo, hi] (each bound optional, decoded)? */
  private[graft] def intersects(range: ColRange, lo: Option[Any],
      hi: Option[Any]): Boolean = {
    val mn = decode(range.tpe, range.min)
    val mx = decode(range.tpe, range.max)
    lo.forall(l => cmp(range.tpe, mx, l) >= 0) &&
      hi.forall(h => cmp(range.tpe, mn, h) <= 0)
  }

  /** The file list a range predicate `lo <= statsCol <= hi` needs:
    * every data file whose recorded [min, max] intersects [lo, hi],
    * plus (conservatively) any file without a stats row for the column.
    */
  private[graft] def survivingFiles(spark: SparkSession, table: String,
      statsCol: String, lo: Long, hi: Long): Seq[Path] = {
    val v = SnapshotCommit.register(spark, table).getOrElse(
      sys.error(s"$table has no published version"))
    val dir = SnapshotCommit
      .resolveDir(spark, table, v)
      .getOrElse(sys.error(s"$table v$v has no directory"))
    val stats = loadStats(spark, dir).getOrElse(Map.empty)
    SnapshotCommit.listData(spark, dir).filter { path =>
      // Conservative on BOTH gaps: no stats row for the file/column, or
      // a non-long stat type under this Long-typed API -> read it.
      // v1 sidecars (no column names) answer through the V1Col upgrade.
      stats.get(path.getName)
        .flatMap(m => m.get(statsCol).orElse(m.get(V1Col)))
        .forall(r => r.tpe != "long" || intersects(r, Some(lo), Some(hi)))
    }
  }

  /** Range read through the stats prune. The predicate is RE-APPLIED on
    * the surviving files — stats only skip, they never filter rows —
    * and the pruned scan is masked through the table's live deletion
    * vector, so a DV-bearing table never resurrects deleted rows here.
    */
  def readRange(spark: SparkSession, table: String, statsCol: String,
      lo: Long, hi: Long): DataFrame = {
    val files = survivingFiles(spark, table, statsCol, lo, hi)
    // An empty survivor set is a legal answer (no file intersects);
    // Spark still needs a schema, so serve the table's empty limit.
    val base =
      if (files.isEmpty) spark.table(table).limit(0)
      else DeletionVectors.mask(spark, table,
        spark.read.parquet(files.map(_.toString): _*))
    base.filter(col(statsCol) >= lo && col(statsCol) <= hi)
  }

  /** Install [[StatsSkippingRule]] on a live session (idempotent) so
    * ordinary `spark.table` reads prune through the sidecars. Sessions
    * built with `spark.sql.extensions=graft.ext.GraftExtensions` get
    * the rule without calling this.
    */
  def installRule(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(StatsSkippingRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ StatsSkippingRule
    if (!spark.experimental.extraOptimizations.contains(MetadataAggRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MetadataAggRule
  }
}
