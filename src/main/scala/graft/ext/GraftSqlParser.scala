package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{CreateTableAsSelect, DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeIntoTable, ReplaceTableAsSelect, SubqueryAlias, TableSpecBase, UnresolvedTableSpec, UnresolvedWith, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{StringType, StructType}

/** The SQL surface of the engine's versioned tables, in two parts.
  *
  * Spark's own parser reads the DML, and its plans map onto this
  * engine's executors when the target is a single-part name:
  *
  *   DELETE FROM t [WHERE p]             -> DeletionVectors.delete (a DV
  *                                          mark, no data rewrite)
  *   UPDATE t SET c = e, ... [WHERE p]   -> touched-file rewrite commit
  *   INSERT INTO|OVERWRITE [TABLE] t
  *     [(cols) | BY NAME] query          -> append / full-replace commit
  *   CREATE [OR REPLACE] TABLE t AS q    -> versioned CTAS commit
  *   MERGE INTO t [[AS] a] USING s|(q)   -> touched-file merge commit:
  *     [[AS] b] ON t.k1 = s.k1 [AND ...]    first-match conditional
  *     WHEN [NOT] MATCHED [AND c] THEN      clauses, UPDATE SET * | c = e,
  *       ...                                DELETE, INSERT * | (cols)
  *     [WHEN NOT MATCHED BY SOURCE          VALUES (...); BY SOURCE only
  *      THEN DELETE]                        as the unconditional full sync
  *   SELECT ... FROM t VERSION|TIMESTAMP -> DV-history time travel, and
  *     AS OF ..., table_changes(...)        the change feed, at plan level
  *
  * Other shapes of these statements keep Spark's meaning, except that
  * an INSERT the executors do not take (PARTITION, IF NOT EXISTS, a
  * multi-part name) fails loudly on a versioned table instead of
  * writing into its published version directory.
  *
  * Delta-only statements Spark does not parse keep a regex each:
  *
  *   OPTIMIZE t [ZORDER BY (a, b)]       -> Optimize.compact / zorder
  *   REORG TABLE t APPLY (PURGE)         -> materialize DV deletes
  *   RESTORE TABLE t TO VERSION|TIMESTAMP
  *     AS OF ...                         -> DeletionVectors.restore
  *   VACUUM t RETAIN n VERSIONS|HOURS
  *     [DRY RUN]                         -> DeletionVectors.vacuum
  *   ALTER TABLE t CLUSTER BY (...)|NONE -> liquid-clustering decl
  *   ALTER TABLE t SET TBLPROPERTIES,
  *     ADD|DROP COLUMN(S),
  *     ADD|DROP CONSTRAINT               -> properties / schema ledger /
  *                                          CHECK constraints
  *   CREATE TABLE d SHALLOW CLONE s      -> SnapshotCommit.clone
  *   CONVERT TO DELTA t [NO STATISTICS]  -> in-place migration
  *   COPY INTO t FROM 'path' ...         -> idempotent batch ingest
  *   DESCRIBE HISTORY|DETAIL t           -> audit rows from `_meta`
  *   CREATE OR REFRESH MATERIALIZED VIEW -> Pipeline MaterializedView arm
  *                                          (see [[parseCreateMv]])
  *
  * Wiring, two ways (the GraftExtensions pattern): sessions built with
  * `spark.sql.extensions=graft.ext.GraftExtensions` get this parser
  * injected (`injectParser`) and the statements work through plain
  * `spark.sql(...)`; live sessions (whose parser is fixed at build)
  * call [[GraftSqlParser.sql]], which runs the same `parsePlan`.
  */
class GraftSqlParser(delegate: ParserInterface,
    session: SparkSession = null) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.maintenance(sqlText).getOrElse {
      val plan = delegate.parsePlan(sqlText)
      GraftSqlParser.dml(plan).getOrElse {
        // `FROM t VERSION AS OF v` parses into RelationTimeTravel, which
        // v1 analysis rejects — resolve it against the engine's
        // deletion-vector history instead (the session is the one the
        // extension was built for; a bare-delegate construction skips).
        if (session == null) plan
        else GraftSqlParser.resolveTimeTravel(session, plan)
      }
    }
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

/** A parsed maintenance statement: runs on the driver, returns
  * (item, value) metric rows — the Delta command shape. */
final case class GraftMaintenanceCommand(label: String,
    exec: SparkSession => Seq[(String, String)])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("item", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    exec(spark).map { case (k, v) => Row(k, v) }
  override def simpleString(maxFields: Int): String = s"GraftMaintenance $label"
}

/** `DESCRIBE HISTORY t` — the Delta audit statement: one row per still-
  * resolvable snapshot version (vacuum/prune may have reaped older
  * ones) with its commit timestamp, operation, file count, total live
  * bytes, row count and current-flag. CONSTANT-TIME per version: every
  * column is served from the `_meta` audit sidecar the commit recorded
  * at stage time (one tiny file read per version, no per-data-file
  * `getFileStatus`), and the candidate versions come from ONE listing
  * of the `_commits` directory rather than probing 1..current — at a
  * million files x V versions the old shape was millions of
  * NameNode/blob round-trips per statement; this is V+1. Versions
  * predating the sidecar (or manifest-mode versions, whose carried
  * refs record no physical size) fall back to the legacy per-file
  * listing for the missing columns — counted in [[legacyStatusCalls]]
  * so a test can pin that a `_meta`-bearing table issues none.
  */
final case class GraftHistoryCommand(table: String)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{BooleanType, LongType}
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp_ms", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)(),
    AttributeReference("rows", LongType, nullable = false)(),
    AttributeReference("is_current", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val sc = graft.storage.SnapshotCommit
    val cur = sc.register(spark, table).getOrElse(sys.error(
      s"DESCRIBE HISTORY $table: table has no published version"))
    val fs = sc.rootDir(spark, table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    sc.publishedVersions(spark, table).flatMap { v =>
      sc.resolveDir(spark, table, v).map { d =>
        def legacyBytes(): Long = {
          val files = sc.listData(spark, d)
          GraftHistoryCommand.legacyStatusCalls.addAndGet(files.size)
          files.map(f => fs.getFileStatus(f._2).getLen).sum
        }
        sc.versionMeta(spark, d) match {
          case Some(m) =>
            val bytes = if (m.bytes >= 0) m.bytes else legacyBytes()
            Row(v, m.tsMs, m.operation, m.nFiles, bytes, m.rows, v == cur)
          case None => // pre-_meta version: degrade, don't fail
            val files = sc.listData(spark, d)
            GraftHistoryCommand.legacyStatusCalls.addAndGet(files.size)
            val bytes = files.map(f => fs.getFileStatus(f._2).getLen).sum
            val ts = scala.util.Try(
              fs.getFileStatus(d).getModificationTime).getOrElse(-1L)
            Row(v, ts, "UNKNOWN", files.size.toLong, bytes, -1L, v == cur)
        }
      }
    }
  }
  override def simpleString(maxFields: Int): String =
    s"GraftHistory $table"
}

object GraftHistoryCommand {
  /** Per-data-file status calls made by legacy fallbacks — a test probe
    * pinning that `_meta`-served history makes NONE. */
  private[graft] val legacyStatusCalls =
    new java.util.concurrent.atomic.AtomicLong()
}

object GraftSqlParser {

  private def overlapped[T](action: => T)(body: => Unit): T =
    graft.core.Overlap.overlapped(action)(body)

  // Table names: the engine's snapshot tables are single-part
  // identifiers (optionally backquoted).
  private val Ident = "`?([A-Za-z_][A-Za-z0-9_]*)`?"
  private val OptimizeRe =
    s"(?is)\\s*OPTIMIZE\\s+$Ident\\s*".r
  // Delta's `REORG TABLE t APPLY (PURGE)`: materialize pending DV
  // deletes into rewritten files (the statement Databricks documents
  // for purging deletion vectors before e.g. a vacuum of sensitive
  // rows).
  private val ReorgRe =
    (s"(?is)\\s*REORG\\s+TABLE\\s+$Ident\\s+APPLY" +
      "\\s*\\(\\s*PURGE\\s*\\)\\s*").r
  private val ZorderRe =
    s"(?is)\\s*OPTIMIZE\\s+$Ident\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\)\\s*".r
  private val RestoreRe =
    s"(?is)\\s*RESTORE\\s+TABLE\\s+$Ident\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*".r
  private val RestoreTsRe =
    (s"(?is)\\s*RESTORE\\s+TABLE\\s+$Ident\\s+TO\\s+TIMESTAMP\\s+AS" +
      "\\s+OF\\s+'([^']+)'\\s*").r
  // ALTER ... SET TBLPROPERTIES on the versioned surface: properties
  // live in the snapshot-root `_properties` sidecar (what OPTIMIZE and
  // clones consult) AND, when a catalog entry exists, in the catalog —
  // one statement keeps both in step.
  private val SetPropsRe =
    (s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+SET\\s+TBLPROPERTIES" +
      "\\s*\\((.*)\\)\\s*").r
  // ALTER ... ADD COLUMN(S) — schema evolution on the versioned
  // surface: a metadata-only commit (every file carries) plus a ledger
  // entry in the root `_properties` sidecar; time travel below the
  // alter keeps serving the old schema. Plain catalog tables delegate
  // to Spark's own AlterTableAddColumnsCommand.
  private val AddColsRe =
    (s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+ADD\\s+COLUMNS?" +
      "\\s*\\((.+)\\)\\s*").r
  // ALTER ... DROP COLUMN(S) — logical removal through the schema
  // ledger: a metadata-only commit; the files keep the column's bytes
  // (Delta's drop is logical too) and time travel below the alter
  // still serves it.
  private val DropColsRe =
    (s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+DROP\\s+COLUMNS?" +
      "\\s*\\(?\\s*([A-Za-z_][A-Za-z0-9_,\\s`]*?)\\s*\\)?\\s*").r
  // ALTER ... ADD/DROP CONSTRAINT — Delta's CHECK constraints:
  // `delta.constraints.<name>` properties in the root `_properties`
  // sidecar, validated against EXISTING data at ADD time and enforced
  // on every versioned write (INSERT/OVERWRITE/COPY/UPDATE/MERGE).
  private val AddConstraintRe =
    (s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+ADD\\s+CONSTRAINT\\s+" +
      s"$Ident\\s+CHECK\\s*\\((.+)\\)\\s*").r
  private val DropConstraintRe =
    (s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+DROP\\s+CONSTRAINT\\s+" +
      s"(IF\\s+EXISTS\\s+)?$Ident\\s*").r
  private val VacuumRe =
    s"(?is)\\s*VACUUM\\s+$Ident\\s+RETAIN\\s+(\\d+)\\s+VERSIONS\\s*".r
  // Delta's actual retention form: fold delete versions whose commit
  // timestamp (the sidecar's `_ts:` sentinels) is older than n hours.
  private val VacuumHoursRe =
    s"(?is)\\s*VACUUM\\s+$Ident\\s+RETAIN\\s+(\\d+)\\s+HOURS\\s*".r
  // Delta's `VACUUM ... DRY RUN`: report what a vacuum would touch,
  // touch nothing.
  private val VacuumDryRe =
    (s"(?is)\\s*VACUUM\\s+$Ident\\s+RETAIN\\s+(\\d+)\\s+" +
      "(VERSIONS|HOURS)\\s+DRY\\s+RUN\\s*").r
  // Databricks' liquid-clustering declaration: record the clustering
  // columns (Delta's `clusteringColumns` vocabulary) so a later plain
  // `OPTIMIZE t` re-clusters instead of merely compacting.
  private val AlterClusterByRe =
    (s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+CLUSTER\\s+BY" +
      "\\s*\\(([^)]+)\\)\\s*").r
  private val AlterClusterNoneRe =
    s"(?is)\\s*ALTER\\s+TABLE\\s+$Ident\\s+CLUSTER\\s+BY\\s+NONE\\s*".r
  // COPY INTO — Databricks' idempotent batch ingest: load a path's
  // files into a versioned table as an append commit, SKIPPING files a
  // previous COPY already loaded (the `_copy:` sidecar ledger);
  // `COPY_OPTIONS ('force' = 'true')` reloads regardless.
  private val CopyIntoRe =
    (s"(?is)\\s*COPY\\s+INTO\\s+$Ident\\s+FROM\\s+'([^']+)'" +
      "\\s+FILEFORMAT\\s*=\\s*([A-Za-z]+)" +
      "(?:\\s+FORMAT_OPTIONS\\s*\\(([^)]*)\\))?" +
      "(?:\\s+COPY_OPTIONS\\s*\\(([^)]*)\\))?\\s*").r
  private val CloneRe =
    s"(?is)\\s*CREATE\\s+TABLE\\s+$Ident\\s+SHALLOW\\s+CLONE\\s+$Ident\\s*".r
  // CONVERT TO DELTA — Databricks' in-place migration statement: an
  // existing plain parquet table becomes a versioned table METADATA-
  // ONLY (version 1 = its current files carried by name; per-file
  // min/max stats from the parquet footers, no data scan — skipping,
  // time travel and DESCRIBE HISTORY work from birth). `NO STATISTICS`
  // skips the footer pass, Delta's grammar. Converting an
  // already-versioned table is a NO-OP (Delta's rule). Partitioned /
  // multi-directory tables fail loudly: partition values live in
  // directory names a flat carry would lose.
  private val ConvertRe =
    (s"(?is)\\s*CONVERT\\s+TO\\s+DELTA\\s+$Ident" +
      "(\\s+NO\\s+STATISTICS)?\\s*").r
  private val ConvertAnyRe = "(?is)\\s*CONVERT\\s+TO\\s+DELTA\\b.*".r
  private val HistoryRe =
    s"(?is)\\s*DESCRIBE\\s+HISTORY\\s+$Ident\\s*".r
  private val DetailRe =
    s"(?is)\\s*DESCRIBE\\s+DETAIL\\s+$Ident\\s*".r
  // The statement every reference gold file opens with
  // (`/root/reference/scripts/gold/fact_order_items.sql:1`).
  private val CreateMvRe =
    "(?is)\\s*CREATE\\s+OR\\s+REFRESH\\s+MATERIALIZED\\s+VIEW\\s+" +
      "([\\w.`]+)\\s+(.*)" match { case p => p.r }

  // ----- DML: Spark's parsed plans mapped onto the executors -----

  private sealed trait MatchedAction
  private case object UpdateAll extends MatchedAction
  private final case class UpdateSet(sets: Seq[(String, Column)])
    extends MatchedAction
  private case object DeleteRow extends MatchedAction
  private final case class MatchedClause(cond: Option[Column],
    action: MatchedAction)

  private sealed trait InsertAction
  private case object InsertAll extends InsertAction
  private final case class InsertCols(cols: Seq[String], vals: Seq[Column])
    extends InsertAction
  private final case class NotMatchedClause(cond: Option[Column],
    action: InsertAction)

  /** A single-part table name, the only kind the executors take. */
  private object SinglePart {
    def unapply(p: LogicalPlan): Option[String] = p match {
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 =>
        Some(u.multipartIdentifier.head)
      case _ => None
    }
  }

  /** The target column an assignment names: bare, or qualified by one of
    * the target's names (`SET s.c = ...` must not silently write the
    * target's `c` — Delta rejects it). */
  private def targetColumn(lhs: Expression, tgtNames: Seq[String],
      stmt: String): String = lhs match {
    case UnresolvedAttribute(Seq(c)) => c
    case UnresolvedAttribute(Seq(q, c))
        if tgtNames.exists(_.equalsIgnoreCase(q)) => c
    case other => sys.error(
      s"$stmt lhs must name a target column, got ${other.sql}")
  }

  private def distinctCols(cols: Seq[String], stmt: String): Unit =
    require(cols.map(_.toLowerCase).distinct.size == cols.size,
      s"$stmt names a column twice: ${cols.mkString(", ")}")

  /** Spark's parsed DML mapped onto the executors; None leaves the plan
    * to Spark. Builds commands only: no I/O happens before execution. */
  private def dml(plan: LogicalPlan): Option[LogicalPlan] =
    plan match {
      case DeleteFromTable(SinglePart(tbl), cond) =>
        val pred = Bridge.column(cond)
        Some(GraftMaintenanceCommand(s"DELETE FROM $tbl", { spark =>
          // DV delete: data files untouched, matched coordinates land in
          // the sidecar. No WHERE parses as `true`: delete everything
          // (still metadata + a coordinate scan, never a rewrite).
          val v = graft.storage.DeletionVectors.delete(spark, tbl, pred)
          Seq("table" -> tbl, "operation" -> "DELETE",
            "delete_version" -> v.toString)
        }))
      case UpdateTable(SinglePart(tbl), assignments, cond) =>
        val sets = assignments.map(a =>
          targetColumn(a.key, Seq(tbl), "UPDATE SET") -> Bridge.column(a.value))
        distinctCols(sets.map(_._1), "UPDATE SET")
        Some(GraftMaintenanceCommand(s"UPDATE $tbl", { spark =>
          val v = runUpdate(spark, tbl, sets, cond.map(Bridge.column))
          Seq("table" -> tbl, "operation" -> "UPDATE",
            "version" -> v.toString)
        }))
      case i: InsertIntoStatement => Some(i.table match {
        case SinglePart(tbl)
            if i.partitionSpec.isEmpty && !i.ifPartitionNotExists =>
          distinctCols(i.userSpecifiedCols, s"INSERT INTO $tbl")
          insertCommand(tbl, i.query,
            Some(i.userSpecifiedCols).filter(_.nonEmpty), i.byName,
            i.overwrite)
        case _ => foreignInsert(i)
      })
      // `WITH c AS (...) INSERT INTO t ...`: the CTEs belong to the query.
      case w: UnresolvedWith => w.child match {
        case i: InsertIntoStatement =>
          dml(i.copy(query = w.copy(child = i.query)))
        case _ => None
      }
      case c: CreateTableAsSelect if !c.ignoreIfExists =>
        ctasCommand(c.name, c.partitioning, c.query, c.tableSpec,
          c.writeOptions, replace = false)
      case r: ReplaceTableAsSelect if r.orCreate =>
        ctasCommand(r.name, r.partitioning, r.query, r.tableSpec,
          r.writeOptions, replace = true)
      case m: MergeIntoTable => mergeCommand(m)
      case _ => None
    }

  /** CTAS on a single-part name with no table clauses (USING, LOCATION,
    * PARTITIONED BY, ...) commits a version; anything else is Spark's. */
  private def ctasCommand(name: LogicalPlan,
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
      query: LogicalPlan, spec: TableSpecBase, options: Map[String, String],
      replace: Boolean): Option[LogicalPlan] = {
    val bare = partitioning.isEmpty && options.isEmpty &&
      spec.properties.isEmpty && spec.provider.isEmpty &&
      spec.location.isEmpty && spec.comment.isEmpty &&
      spec.collation.isEmpty && spec.serde.isEmpty && !spec.external &&
      (spec match {
        case u: UnresolvedTableSpec =>
          u.optionExpression.options.isEmpty && u.constraints.isEmpty
        case _ => true
      })
    name match {
      case UnresolvedIdentifier(Seq(tbl), _) if bare =>
        val op = if (replace) "REPLACE TABLE AS SELECT"
          else "CREATE TABLE AS SELECT"
        Some(GraftMaintenanceCommand(s"CTAS $tbl", { spark =>
          val v = runCtas(spark, tbl, query, replace)
          Seq("table" -> tbl, "operation" -> op, "version" -> v.toString)
        }))
      case _ => None
    }
  }

  /** An INSERT the executors do not take (a PARTITION spec, IF NOT
    * EXISTS, a multi-part name). Checked at execution: on a versioned
    * table it fails loudly — Spark's file writer would write into the
    * published version directory in place — and any other target runs
    * Spark's own plan. */
  private def foreignInsert(i: InsertIntoStatement): LogicalPlan = {
    val parts = i.table match {
      case u: UnresolvedRelation => u.multipartIdentifier
      case _ => Nil
    }
    val name = parts.mkString(".")
    GraftMaintenanceCommand(s"INSERT $name (Spark)", { spark =>
      require(!isVersioned(spark, parts),
        s"INSERT INTO $name: $name is a versioned table, and this INSERT " +
          "form (PARTITION spec, IF NOT EXISTS or a multi-part name) is " +
          "not supported on it — use INSERT INTO <table> [(cols)] <query>")
      Bridge.ofRows(spark, resolveTimeTravel(spark, i))
      Seq("table" -> name, "operation" -> "INSERT",
        "mode" -> "delegated (plain catalog table)")
    })
  }

  /** Does `parts` name a versioned table: its last part has published
    * versions and, when qualified, the catalog entry it names lives
    * under that table's snapshot root? */
  private def isVersioned(spark: SparkSession, parts: Seq[String]): Boolean =
    parts.nonEmpty && {
      val sc = graft.storage.SnapshotCommit
      val t = parts.last
      sc.currentVersion(spark, t).isDefined && (parts.size == 1 || {
        val root = sc.rootDir(spark, t).toUri.getPath
        scala.util.Try(spark.sessionState.catalog.getTableMetadata(
          TableIdentifier(t, Some(parts(parts.size - 2))))).toOption
          .flatMap(_.storage.locationUri)
          .exists(_.getPath.startsWith(root))
      })
    }

  /** MERGE on a single-part target. The ON clause must be a conjunction
    * of equalities joining target to source on SAME-NAMED key columns
    * (identifiers compare case-insensitively, like Spark's resolver);
    * rename-on-merge keys, OR, conditional NOT MATCHED BY SOURCE and
    * source-qualified SET targets fail loudly, naming the clause. Clause
    * semantics are Delta's: per matched pair the FIRST clause whose
    * condition holds applies (none → row kept unchanged); per unmatched
    * source row the first holding NOT MATCHED clause inserts (none →
    * dropped). NOT MATCHED BY SOURCE DELETE is taken only in the
    * unconditional full-sync form (UPDATE SET * / INSERT * / DELETE).
    */
  private def mergeCommand(m: MergeIntoTable): Option[LogicalPlan] = {
    val (tgt, tA) = m.targetTable match {
      case SinglePart(t) => (t, t)
      case SubqueryAlias(a, SinglePart(t)) => (t, a.name)
      case _ => return None
    }
    require(!m.withSchemaEvolution,
      s"MERGE WITH SCHEMA EVOLUTION INTO $tgt is not supported")
    val (srcNames, sA) = m.sourceTable match {
      case SubqueryAlias(a, _) => (Seq(a.name), a.name)
      case u: UnresolvedRelation =>
        (Seq(u.multipartIdentifier.last), u.multipartIdentifier.last)
      case _ => (Nil, "source")
    }
    val tgtNames = Seq(tgt, tA)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    def isIn(q: String, names: Seq[String]) =
      names.exists(_.equalsIgnoreCase(q))
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(UnresolvedAttribute(Seq(q1, c1)),
          UnresolvedAttribute(Seq(q2, c2))) =>
        require((isIn(q1, tgtNames) && isIn(q2, srcNames)) ||
          (isIn(q1, srcNames) && isIn(q2, tgtNames)),
          s"MERGE ON clause must join $tgt to $sA (got $q1.$c1 = $q2.$c2)")
        require(c1.equalsIgnoreCase(c2),
          "MERGE requires the same key column name on both sides " +
            s"(got $c1 vs $c2)")
        c1
      case other => sys.error(
        "MERGE ON clause not understood (need `t.k = s.k [AND ...]`): " +
          other.sql)
    }
    distinctCols(keys, "MERGE ON clause")
    val cond = (_: Option[Expression]).map(Bridge.column)
    val matched = m.matchedActions.map {
      case UpdateStarAction(c) => MatchedClause(cond(c), UpdateAll)
      case UpdateAction(c, assigns, _) =>
        val sets = assigns.map(a => targetColumn(a.key, tgtNames,
          "MERGE UPDATE SET") -> Bridge.column(a.value))
        distinctCols(sets.map(_._1), "MERGE UPDATE SET")
        MatchedClause(cond(c), UpdateSet(sets))
      case DeleteAction(c) => MatchedClause(cond(c), DeleteRow)
      case other => sys.error(s"MERGE MATCHED action not understood: $other")
    }
    val notMatched = m.notMatchedActions.map {
      case InsertStarAction(c) => NotMatchedClause(cond(c), InsertAll)
      case InsertAction(c, assigns) =>
        val cols = assigns.map(a =>
          targetColumn(a.key, tgtNames, "MERGE INSERT"))
        distinctCols(cols, "MERGE INSERT")
        NotMatchedClause(cond(c),
          InsertCols(cols, assigns.map(a => Bridge.column(a.value))))
      case other =>
        sys.error(s"MERGE NOT MATCHED action not understood: $other")
    }
    require(matched.nonEmpty || notMatched.nonEmpty,
      "MERGE needs at least one WHEN clause")
    val sync = m.notMatchedBySourceActions match {
      case Seq() => false
      case Seq(DeleteAction(None))
          if matched == Seq(MatchedClause(None, UpdateAll)) &&
            notMatched == Seq(NotMatchedClause(None, InsertAll)) => true
      case _ => sys.error(
        "WHEN NOT MATCHED BY SOURCE is supported only in the canonical " +
          "full-sync form (UPDATE SET * / INSERT * / THEN DELETE, " +
          "unconditional)")
    }
    Some(GraftMaintenanceCommand(s"MERGE $sA -> $tgt", { spark =>
      val v = runMerge(spark, tgt, tA, m.sourceTable, sA, keys, matched,
        notMatched, sync)
      Seq("table" -> tgt, "merged_from" -> sA, "keys" -> keys.mkString(","),
        "version" -> v.toString)
    }))
  }

  /** The maintenance grammar; None -> not ours, delegate. A trailing
    * statement terminator is stripped up front — every reference SQL
    * file ends with one, and each arm's regex anchors to the end. */
  def maintenance(sqlText0: String): Option[LogicalPlan] = {
    val sqlText = sqlText0.replaceFirst("(?s);\\s*$", "")
    maintenanceStmt(sqlText)
  }

  private def maintenanceStmt(sqlText: String): Option[LogicalPlan] = sqlText match {
    case ZorderRe(tbl, cols) =>
      val cs = cols.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty).toSeq
      Some(GraftMaintenanceCommand(s"OPTIMIZE $tbl ZORDER", { spark =>
        graft.storage.Optimize.zorder(spark, tbl, cs)
        Seq("table" -> tbl, "zordered_by" -> cs.mkString(","))
      }))
    case ReorgRe(tbl) =>
      Some(GraftMaintenanceCommand(s"REORG $tbl", { spark =>
        val dv = graft.storage.DeletionVectors
        val pending = dv.version(spark, tbl)
        dv.compact(spark, tbl)
        Seq("table" -> tbl, "operation" -> "REORG APPLY (PURGE)",
          "purged_through_version" -> pending.toString)
      }))
    case OptimizeRe(tbl) =>
      Some(GraftMaintenanceCommand(s"OPTIMIZE $tbl", { spark =>
        // A table that declared clustering columns (ALTER TABLE ...
        // CLUSTER BY — Databricks liquid clustering) re-clusters on
        // plain OPTIMIZE, Databricks' behavior; everything else
        // bin-packs.
        val clusterCols = graft.storage.SnapshotCommit
          .properties(spark, tbl).get(ClusteringColsProp)
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .filter(_.nonEmpty)
        clusterCols match {
          case Some(cs) =>
            graft.storage.Optimize.zorder(spark, tbl, cs)
            Seq("table" -> tbl, "clustered_by" -> cs.mkString(","))
          case None =>
            val (before, after) =
              graft.storage.Optimize.compact(spark, tbl)
            Seq("table" -> tbl, "files_before" -> before.toString,
              "files_after" -> after.toString)
        }
      }))
    case RestoreRe(tbl, v) =>
      Some(GraftMaintenanceCommand(s"RESTORE $tbl", { spark =>
        // RESTORE here rolls back DELETE-version history (the engine's
        // time-travel axis — appends commit whole snapshot versions and
        // are not rolled back by this statement). A table with no
        // delete history must FAIL loudly, not report a success that
        // changed nothing.
        val hwm = graft.storage.DeletionVectors.version(spark, tbl)
        require(hwm > 0,
          s"RESTORE $tbl: table has no delete-version history to roll " +
            "back (this statement restores DELETE history; appends are " +
            "separate snapshot versions)")
        graft.storage.DeletionVectors.restore(spark, tbl, v.toLong)
        Seq("table" -> tbl, "restored_to_version" -> v)
      }))
    case RestoreTsRe(tbl, ts) =>
      Some(GraftMaintenanceCommand(s"RESTORE $tbl (timestamp)", { spark =>
        // Same delete-history semantics as the VERSION form, anchored
        // by the `_ts:` timeline (latest version <= ts, Delta's rule);
        // the no-history and sub-floor failures come from the shared
        // machinery.
        val hwm = graft.storage.DeletionVectors.version(spark, tbl)
        require(hwm > 0,
          s"RESTORE $tbl: table has no delete-version history to roll " +
            "back (this statement restores DELETE history; appends are " +
            "separate snapshot versions)")
        val v = graft.storage.DeletionVectors
          .versionAtTimestamp(spark, tbl, parseTsMs(spark, ts))
        graft.storage.DeletionVectors.restore(spark, tbl, v)
        Seq("table" -> tbl, "restored_to_version" -> v.toString,
          "anchor" -> ts)
      }))
    case SetPropsRe(tbl, pairs) =>
      val props = splitTop(pairs, ',').map {
        case PropPairRe(k, v) => k -> v
        case other => sys.error(
          s"TBLPROPERTIES entry not understood: '${other.trim}'")
      }.toMap
      require(props.nonEmpty, "SET TBLPROPERTIES needs at least one pair")
      Some(GraftMaintenanceCommand(s"SET TBLPROPERTIES $tbl", { spark =>
        graft.storage.SnapshotCommit.setProperties(spark, tbl, props)
        // Keep the catalog entry (when one exists) in step — SHOW
        // TBLPROPERTIES reads it; absent-table is fine (properties
        // declared before first adoption are a documented path). A
        // REAL catalog failure propagates — swallowing it would leave
        // sidecar and catalog silently out of step (the sidecar write
        // above is durable either way, and re-running the statement is
        // idempotent).
        if (spark.sessionState.catalog.getTempView(tbl).isEmpty &&
            spark.catalog.tableExists(tbl)) {
          // Through the catalog API, never spark.sql — an ALTER
          // statement would re-enter this very parser on an injected
          // session (infinite recursion).
          val cat = spark.sessionState.catalog
          val meta = cat.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(tbl))
          cat.alterTable(meta.copy(properties = meta.properties ++ props))
        }
        Seq("table" -> tbl, "properties_set" -> props.size.toString)
      }))
    case CopyIntoRe(tbl, path, fmt, fmtOpts, copyOpts) =>
      def pairs(txt: String): Map[String, String] =
        if (txt == null || txt.trim.isEmpty) Map.empty
        else splitTop(txt, ',').map {
          case PropPairRe(k, v) => k -> v
          case other => sys.error(
            s"COPY INTO options entry not understood: '${other.trim}'")
        }.toMap
      Some(GraftMaintenanceCommand(s"COPY INTO $tbl", { spark =>
        val (v, files, rows) = runCopyInto(spark, tbl, path,
          fmt.toUpperCase, pairs(fmtOpts), pairs(copyOpts))
        Seq("table" -> tbl, "operation" -> "COPY INTO",
          "files_loaded" -> files.toString,
          "rows_loaded" -> rows.toString,
          "version" -> (if (v >= 0) v.toString else "unchanged"))
      }))
    case AddColsRe(tbl, colsDdl) =>
      Some(GraftMaintenanceCommand(s"ADD COLUMNS $tbl", { spark =>
        val v = runAddColumns(spark, tbl, colsDdl)
        Seq("table" -> tbl, "operation" -> "ADD COLUMNS",
          (if (v >= 0) "version" -> v.toString
           else "mode" -> "delegated (plain catalog table)"))
      }))
    case DropColsRe(tbl, colsTxt) =>
      val cols = colsTxt.split(",")
        .map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty).toSeq
      Some(GraftMaintenanceCommand(s"DROP COLUMNS $tbl", { spark =>
        val v = runDropColumns(spark, tbl, cols)
        Seq("table" -> tbl, "operation" -> "DROP COLUMNS",
          "columns" -> cols.mkString(","), "version" -> v.toString)
      }))
    case AddConstraintRe(tbl, name, cond) =>
      Some(GraftMaintenanceCommand(s"ADD CONSTRAINT $tbl", { spark =>
        import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
        val key = ConstraintPropPrefix + name.toLowerCase
        require(!graft.storage.SnapshotCommit.properties(spark, tbl)
          .contains(key),
          s"ALTER TABLE $tbl ADD CONSTRAINT: constraint $name " +
            "already exists (DROP CONSTRAINT first)")
        // Delta validates HISTORY first: an existing live row that
        // violates the check fails the ALTER — a constraint must never
        // be born broken. NULL results pass (SQL's CHECK rule:
        // violated only when the predicate is FALSE).
        val live =
          if (graft.storage.SnapshotCommit.currentVersion(spark, tbl)
              .isDefined)
            graft.storage.DeletionVectors.read(spark, tbl)
          else {
            require(spark.catalog.tableExists(tbl),
              s"ALTER TABLE $tbl ADD CONSTRAINT: table not found")
            spark.table(tbl)
          }
        val bad = live.filter(not(coalesce(expr(cond).cast("boolean"),
          lit(true)))).limit(1).collect()
        require(bad.isEmpty,
          s"ALTER TABLE $tbl ADD CONSTRAINT $name: an existing row " +
            s"violates CHECK ($cond): ${bad.mkString}")
        graft.storage.SnapshotCommit.setProperties(spark, tbl,
          Map(key -> cond))
        Seq("table" -> tbl, "constraint" -> name, "check" -> cond)
      }))
    case DropConstraintRe(tbl, ifExists, name) =>
      Some(GraftMaintenanceCommand(s"DROP CONSTRAINT $tbl", { spark =>
        val key = ConstraintPropPrefix + name.toLowerCase
        val had = graft.storage.SnapshotCommit.properties(spark, tbl)
          .contains(key)
        require(had || ifExists != null,
          s"ALTER TABLE $tbl DROP CONSTRAINT: no constraint named " +
            s"$name (use IF EXISTS)")
        graft.storage.SnapshotCommit.removeProperties(spark, tbl,
          _ == key)
        Seq("table" -> tbl, "constraint" -> name,
          "dropped" -> had.toString)
      }))
    case VacuumDryRe(tbl, n, unit) =>
      Some(GraftMaintenanceCommand(s"VACUUM $tbl DRY RUN", { spark =>
        val dv = graft.storage.DeletionVectors
        val cutoff =
          if (unit.equalsIgnoreCase("HOURS"))
            dv.vacuumHoursCutoff(spark, tbl, n.toLong)
          else math.max(dv.version(spark, tbl) - n.toLong, 0L)
        val would = if (cutoff > 0)
          dv.vacuumDryRun(spark, tbl, cutoff) else Seq.empty
        Seq("table" -> tbl,
          "would_vacuum_through_version" -> cutoff.toString,
          "files_to_rewrite" -> would.size.toString) ++
          would.map(f => "file" -> f)
      }))
    case AlterClusterNoneRe(tbl) =>
      Some(GraftMaintenanceCommand(s"CLUSTER BY NONE $tbl", { spark =>
        graft.storage.SnapshotCommit.removeProperties(spark, tbl,
          _ == ClusteringColsProp)
        Seq("table" -> tbl, "clustering" -> "none")
      }))
    case AlterClusterByRe(tbl, colsTxt) =>
      val cs = colsTxt.split(",")
        .map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty).toSeq
      require(cs.nonEmpty && cs.size <= 4,
        s"CLUSTER BY $tbl: 1-4 clustering columns (got ${cs.size}) — " +
          "the Z-order interleave caps at 4 keys, Databricks' limit")
      Some(GraftMaintenanceCommand(s"CLUSTER BY $tbl", { spark =>
        // Columns must exist NOW — a typo'd key silently disabling
        // every future OPTIMIZE would be a trap.
        val schema = graft.storage.SnapshotCommit.readData(spark, tbl)
          .schema.fieldNames
        cs.foreach(c => require(schema.exists(_.equalsIgnoreCase(c)),
          s"CLUSTER BY $tbl: no column $c"))
        graft.storage.SnapshotCommit.setProperties(spark, tbl,
          Map(ClusteringColsProp -> cs.mkString(",")))
        // Keep SHOW TBLPROPERTIES in step (the SetPropsRe discipline).
        if (spark.sessionState.catalog.getTempView(tbl).isEmpty &&
            spark.catalog.tableExists(tbl)) {
          val cat = spark.sessionState.catalog
          val meta = cat.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(tbl))
          cat.alterTable(meta.copy(properties = meta.properties +
            (ClusteringColsProp -> cs.mkString(","))))
        }
        Seq("table" -> tbl, "clustering_columns" -> cs.mkString(","))
      }))
    case VacuumHoursRe(tbl, h) =>
      Some(GraftMaintenanceCommand(s"VACUUM $tbl (hours)", { spark =>
        val cutoff = graft.storage.DeletionVectors
          .vacuumRetainHours(spark, tbl, h.toLong)
        Seq("table" -> tbl, "retained_hours" -> h,
          "vacuumed_through_version" -> cutoff.toString)
      }))
    case VacuumRe(tbl, v) =>
      Some(GraftMaintenanceCommand(s"VACUUM $tbl", { spark =>
        // RETAIN n VERSIONS = keep the n NEWEST delete versions
        // separable, fold everything older: cutoff = high-water mark
        // minus n (passing n directly would invert the semantics — a
        // scheduled RETAIN 5 would stop reclaiming forever once the
        // HWM passed 5).
        val hwm = graft.storage.DeletionVectors.version(spark, tbl)
        val cutoff = hwm - v.toLong
        if (cutoff > 0)
          graft.storage.DeletionVectors.vacuum(spark, tbl, cutoff)
        Seq("table" -> tbl, "retained_versions" -> v,
          "vacuumed_through_version" -> math.max(cutoff, 0L).toString)
      }))
    case CloneRe(dst, src) =>
      Some(GraftMaintenanceCommand(s"CLONE $src -> $dst", { spark =>
        val loc = graft.storage.SnapshotCommit.clone(spark, src, dst)
        Seq("table" -> dst, "cloned_from" -> src,
          "location" -> loc.toString)
      }))
    case ConvertRe(tbl, noStats) =>
      Some(GraftMaintenanceCommand(s"CONVERT $tbl", { spark =>
        val (v, files, mode) = runConvert(spark, tbl,
          withStats = noStats == null)
        Seq("table" -> tbl, "operation" -> "CONVERT TO DELTA",
          "version" -> v.toString, "files" -> files.toString,
          "statistics" -> mode)
      }))
    case ConvertAnyRe() => sys.error(
      "CONVERT TO DELTA takes a single-part table identifier " +
        "(optionally followed by NO STATISTICS): the parquet.`/path` " +
        "and PARTITIONED BY forms are not supported — register the " +
        "directory as an unpartitioned table first")
    case HistoryRe(tbl) => Some(GraftHistoryCommand(tbl))
    case DetailRe(tbl) =>
      // Delta's `DESCRIBE DETAIL`: one row of table-level facts, served
      // from the CURRENT version's `_meta` audit sidecar plus the root
      // sidecars — constant-time like HISTORY (no per-data-file status;
      // a pre-_meta or manifest version reports -1 bytes rather than
      // paying a per-file walk).
      Some(GraftMaintenanceCommand(s"DETAIL $tbl", { spark =>
        val sc = graft.storage.SnapshotCommit
        val v = sc.register(spark, tbl).getOrElse(sys.error(
          s"DESCRIBE DETAIL $tbl: table has no published version"))
        val dir = sc.resolveDir(spark, tbl, v).getOrElse(sys.error(
          s"DESCRIBE DETAIL $tbl: version v$v has no directory"))
        val meta = sc.versionMeta(spark, dir)
        val props = sc.properties(spark, tbl)
        Seq(
          "name" -> tbl,
          "format" -> "parquet (graft snapshot)",
          "location" -> dir.toString,
          "version" -> v.toString,
          "numFiles" -> meta.map(_.nFiles.toString).getOrElse("-1"),
          "sizeInBytes" -> meta.map(_.bytes.toString).getOrElse("-1"),
          "numRows" -> meta.map(_.rows.toString).getOrElse("-1"),
          "lastModified" -> meta.map(_.tsMs.toString).getOrElse("-1"),
          "lastOperation" -> meta.map(_.operation).getOrElse("UNKNOWN"),
          "deleteVersion" ->
            graft.storage.DeletionVectors.version(spark, tbl).toString
        ) ++ props.toSeq.sortBy(_._1).map { case (k, vv) =>
          s"properties.$k" -> vv }
      }))
    case CreateMvRe(name, rest) =>
      Some(parseCreateMv(name.replace("`", ""), rest))
    case _ => None
  }

  /** Split on a single-char separator at paren-depth 0, outside string
    * literals. */
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inStr = false; var last = 0
    for (i <- s.indices) {
      val ch = s.charAt(i)
      if (inStr) { if (ch == '\'') inStr = false }
      else ch match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case c if depth == 0 && c == sep =>
          out += s.substring(last, i); last = i + 1
        case _ => ()
      }
    }
    out += s.substring(last)
    out.toSeq
  }

  // ----- CREATE OR REFRESH MATERIALIZED VIEW -----

  /** Index of the first occurrence of `word` at paren-depth 0, outside
    * single- and double-quoted strings; -1 if none. */
  private def topLevelIndexOf(s: String, word: String): Int = {
    var depth = 0; var q1 = false; var q2 = false; var i = 0
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < s.length) {
      val ch = s.charAt(i)
      if (q1) { if (ch == '\'') q1 = false }
      else if (q2) { if (ch == '"') q2 = false }
      else ch match {
        case '\'' => q1 = true
        case '"' => q2 = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 &&
            s.regionMatches(true, i, word, 0, word.length) &&
            (i == 0 || !isWordChar(s.charAt(i - 1))) &&
            (i + word.length >= s.length ||
              !isWordChar(s.charAt(i + word.length))) =>
          return i
        case _ => ()
      }
      i += 1
    }
    -1
  }

  /** Strip the DLT virtual-schema prefix `LIVE.` (DLT's own resolution
    * rule: `LIVE.x` names the pipeline-visible dataset `x`) — but only
    * OUTSIDE string literals, backquoted identifiers and SQL comments: a
    * regex replaceAll also rewrote matches inside literals (`'LIVE.x'`
    * silently became `'x'` — data alteration, ADVICE r15). Same scanner
    * discipline as [[topLevelIndexOf]]/[[splitTop]].
    */
  private[graft] def stripLivePrefix(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    var q1 = false; var q2 = false; var bt = false
    var lineC = false; var blockC = false
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < s.length) {
      val ch = s.charAt(i)
      if (lineC) { if (ch == '\n') lineC = false; out += ch; i += 1 }
      else if (blockC) {
        if (ch == '*' && i + 1 < s.length && s.charAt(i + 1) == '/') {
          out ++= "*/"; blockC = false; i += 2
        } else { out += ch; i += 1 }
      }
      else if (q1) { if (ch == '\'') q1 = false; out += ch; i += 1 }
      else if (q2) { if (ch == '"') q2 = false; out += ch; i += 1 }
      else if (bt) { if (ch == '`') bt = false; out += ch; i += 1 }
      else if (ch == '\'') { q1 = true; out += ch; i += 1 }
      else if (ch == '"') { q2 = true; out += ch; i += 1 }
      else if (ch == '`') { bt = true; out += ch; i += 1 }
      else if (ch == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        lineC = true; out += ch; i += 1
      }
      else if (ch == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        blockC = true; out += ch; i += 1
      }
      else if (s.regionMatches(true, i, "LIVE", 0, 4) &&
          (i == 0 || !isWordChar(s.charAt(i - 1)))) {
        // The prefix only strips when the token is followed (over
        // optional whitespace) by '.': `LIVE` as a plain identifier or
        // `LIVES.x` pass through untouched.
        var j = i + 4
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        if (j < s.length && s.charAt(j) == '.') {
          var k = j + 1
          while (k < s.length && s.charAt(k).isWhitespace) k += 1
          i = k // drop "LIVE . " entirely
        } else { out += ch; i += 1 }
      }
      else { out += ch; i += 1 }
    }
    out.toString
  }

  /** Index just past the ')' matching the '(' at `open`. */
  private def pastBalanced(s: String, open: Int): Int = {
    var depth = 0; var q1 = false; var q2 = false; var i = open
    while (i < s.length) {
      val ch = s.charAt(i)
      if (q1) { if (ch == '\'') q1 = false }
      else if (q2) { if (ch == '"') q2 = false }
      else ch match {
        case '\'' => q1 = true
        case '"' => q2 = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i + 1
        case _ => ()
      }
      i += 1
    }
    sys.error(s"unbalanced parentheses in: $s")
  }

  private val ConstraintRe =
    ("(?is)\\s*CONSTRAINT\\s+`?(\\w+)`?\\s+EXPECT\\s*\\((.*)\\)" +
      "\\s*(?:ON\\s+VIOLATION\\s+(FAIL\\s+UPDATE|DROP\\s+ROW))?\\s*").r
  private val ClusterByRe = "(?is)^CLUSTER\\s+BY\\s*\\(([^)]*)\\)\\s*(.*)".r
  private val CommentRe =
    "(?is)^COMMENT\\s+(?:\"([^\"]*)\"|'([^']*)')\\s*(.*)".r
  private val TblPropsStartRe = "(?is)^TBLPROPERTIES\\s*\\(.*".r
  private val PropPairRe = "(?is)\\s*'([^']*)'\\s*=\\s*'([^']*)'\\s*".r

  /** Parse `CREATE OR REFRESH MATERIALIZED VIEW name (CONSTRAINT ...)?
    * CLUSTER BY (...)? COMMENT "..."? TBLPROPERTIES (...)? AS <query>` —
    * the reference's gold-file statement form
    * (`fact_order_items.sql:1-19`) — and execute it through the
    * Pipeline's MaterializedView arm: EXPECT constraints become the
    * expectations triad (`ON VIOLATION FAIL UPDATE` → fail, which
    * aborts the refresh BEFORE the catalog is touched so the prior
    * version survives; `ON VIOLATION DROP ROW` → drop; bare EXPECT →
    * warn), CLUSTER BY takes the range/Z-order clustered write path,
    * COMMENT and TBLPROPERTIES are recorded as table properties. In the
    * query body, the DLT virtual schema `LIVE.x` resolves to the
    * session-visible dataset `x` (prefix stripped — DLT's own
    * resolution rule); real 2/3-part names pass through to the session
    * catalog untouched. The statement is idempotent: each run is a full
    * refresh (CREATE **OR REFRESH** semantics).
    */
  private def parseCreateMv(name: String, rest: String): LogicalPlan = {
    val body = rest.trim.stripSuffix(";")
    val asIdx = topLevelIndexOf(body, "AS")
    require(asIdx >= 0, "CREATE MATERIALIZED VIEW needs AS <query>")
    var header = body.substring(0, asIdx).trim
    val query = body.substring(asIdx + 2)
    // optional (CONSTRAINT ..., ...) block
    val constraints =
      if (!header.startsWith("(")) Seq.empty[(String, String, String)]
      else {
        val end = pastBalanced(header, 0)
        val block = header.substring(1, end - 1)
        header = header.substring(end).trim
        splitTop(block, ',').map {
          case ConstraintRe(n, e, viol) =>
            (n, e, Option(viol).map(_.replaceAll("\\s+", " ").toUpperCase)
              .getOrElse("WARN"))
          case other => sys.error(
            s"MATERIALIZED VIEW constraint not understood: '${other.trim}'")
        }
      }
    var clusterCols = Seq.empty[String]
    var comment = Option.empty[String]
    var props = Map.empty[String, String]
    while (header.nonEmpty) header match {
      case ClusterByRe(cols, tail) =>
        clusterCols = cols.split(",")
          .map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty).toSeq
        header = tail.trim
      case CommentRe(c1, c2, tail) =>
        comment = Option(c1).orElse(Option(c2))
        header = tail.trim
      case h if TblPropsStartRe.matches(h) =>
        val open = h.indexOf('(')
        val end = pastBalanced(h, open)
        props = splitTop(h.substring(open + 1, end - 1), ',').map {
          case PropPairRe(k, v) => k -> v
          case other => sys.error(
            s"TBLPROPERTIES entry not understood: '${other.trim}'")
        }.toMap
        header = h.substring(end).trim
      case other =>
        sys.error(s"MATERIALIZED VIEW header not understood at: '$other'")
    }
    val liveResolved = stripLivePrefix(query)
    GraftMaintenanceCommand(s"CREATE MV $name", { spark =>
      import org.apache.spark.sql.functions.expr
      val dq = graft.dq.Expectations
      val exps = constraints.map { case (n, e, viol) =>
        if (viol.startsWith("FAIL")) dq.fail(n, expr(e))
        else if (viol.startsWith("DROP")) dq.drop(n, expr(e))
        else dq.warn(n, expr(e))
      }
      new graft.pipeline.Pipeline()
        .register(graft.pipeline.Dataset(name, Nil,
          (sp, _) => sp.sql(liveResolved),
          expectations = exps,
          materialize = graft.pipeline.Materialize.MaterializedView,
          clusterBy = clusterCols,
          tableProperties = props ++ comment.map("comment" -> _),
          // One build pass: gold MVs are multi-join facts — validate
          // against the staged copy, never re-run the join tree.
          validateStaged = exps.nonEmpty))
        .run(spark)
      Seq("table" -> name,
        "operation" -> "CREATE OR REFRESH MATERIALIZED VIEW",
        "constraints" -> exps.size.toString,
        "clustered_by" -> clusterCols.mkString(","))
    })
  }

  /** The source keys' per-column [min, max] envelope as a pushable
    * predicate — the probe-pruning bounds (see the runMerge probe
    * comment). One 1-row aggregate over the source. None when ANY key
    * column has no non-null value: such a source equi-matches nothing,
    * so the caller can skip the probe scan outright. */
  private def sourceKeyRange(src: DataFrame,
      keys: Seq[String]): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    val aggs = keys.flatMap(k =>
      Seq(min(col(k)).as(s"_lo_$k"), max(col(k)).as(s"_hi_$k")))
    val r = src.agg(aggs.head, aggs.tail: _*).head()
    if (keys.indices.exists(i => r.isNullAt(2 * i))) None
    else Some(keys.zipWithIndex.map { case (k, i) =>
      col(k) >= lit(r.get(2 * i)) && col(k) <= lit(r.get(2 * i + 1))
    }.reduce(_ && _))
  }

  /** Execute one parsed MERGE as a snapshot commit (the Delta execution
    * model: merge produces a new version; readers of older versions are
    * untouched).
    *
    * TOUCHED-FILE WRITE IO (the Delta MERGE shape, same machinery as the
    * Pipeline incremental arm): when a WHEN MATCHED clause exists, first
    * PROBE which data files hold a live matched key (a column-pruned
    * scan of the key columns plus file provenance, semi-joined against
    * the source's keys), REWRITE only those files' live rows through the
    * clauses, and CARRY every untouched file by name (hard link /
    * manifest ref — no data IO). Write IO is therefore proportional to
    * touched files + source, not table size. An insert-only MERGE
    * touches nothing. Only the full-sync form (NOT MATCHED BY SOURCE
    * DELETE) is a full rewrite, by definition: the source IS the
    * desired state.
    *
    * Row algebra is Delta's:
    *  - each matched (target, source) pair takes the FIRST matched
    *    clause whose condition holds — one clause-index column
    *    (`when(c1, 1).when(c2, 2)... else 0`) drives a per-column CASE
    *    cascade; index 0 (no clause) keeps the target row verbatim,
    *    delete-clause indices filter the row out;
    *  - unmatched target rows in touched files rewrite unchanged;
    *  - each unmatched SOURCE row takes the first NOT MATCHED clause
    *    whose condition holds (none → dropped); explicit INSERT column
    *    lists null-fill unnamed target columns, and every value casts to
    *    the target column's type (Delta's implicit cast-on-write).
    * The unconditional upsert (UPDATE SET * / INSERT *) skips the
    * cascade: its rewrite is the touched live rows minus the matched
    * keys, plus the source aligned BY NAME (a source missing a target
    * column fails the select).
    *
    *  - Matched-file detection runs on the LIVE view
    *    ([[graft.storage.DeletionVectors.readWithProvenance]]): a key
    *    whose every row in a file is already DV-deleted does not drag
    *    that file into the rewrite, and deleted rows are never
    *    resurrected.
    *  - Untouched files keep their BASENAMES (DV coordinates key on
    *    them); the `_dv` sidecar carries with the version, its entries
    *    for rewritten files dropped, and the `_stats` skipping sidecar
    *    and the streaming `_batchid` marker carry too. Carried basenames
    *    cannot collide with the rewrite's part files: Spark embeds a
    *    per-job UUID in every part-file name.
    *  - Delta's cardinality rule: duplicate source keys fail loudly
    *    BEFORE any write whenever a matched clause could update (the
    *    pure unconditional-DELETE form skips the check, as Delta does).
    *  - A NON-DETERMINISTIC source is materialized once: it feeds the
    *    dup-check, the probe and the rewrite as separate jobs, and one
    *    that evaluated differently between them could drop the target
    *    row a probed key displaced (Delta's materializeSource).
    *
    * Every phase derives inside the staging closure, target read first:
    * on a lost claim the commit protocol re-points at the winner's
    * version and RE-INVOKES the closure, so the merge rebases onto the
    * winner's rows (ExtensionsSpec races two merges to pin this).
    */
  private def runMerge(spark: SparkSession, tgt: String, tA: String,
      source: LogicalPlan, sA: String, keys: Seq[String],
      matched: Seq[MatchedClause], notMatched: Seq[NotMatchedClause],
      sync: Boolean): Long = {
    import org.apache.spark.sql.functions.{array, col, count, explode, lit,
      struct, when}
    val sc = graft.storage.SnapshotCommit
    val dv = graft.storage.DeletionVectors
    val IdxCol = "_graft_clause"
    sc.register(spark, tgt)
    val srcDf0 = Bridge.ofRows(spark, resolveTimeTravel(spark, source))
    val mustPin = graft.pipeline.Pipeline.nonDeterministic(srcDf0)
    val srcDf = if (mustPin) srcDf0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else srcDf0
    // The unconditional upsert keeps the plain union algebra: the
    // cascade's extra joins measured slower on the lifecycle benchmark.
    val starUpsert = matched == Seq(MatchedClause(None, UpdateAll)) &&
      notMatched == Seq(NotMatchedClause(None, InsertAll))
    try {
    keys.foreach(k => require(
      srcDf.columns.exists(_.equalsIgnoreCase(k)),
      s"MERGE source $sA has no key column $k"))
    if (matched.exists(c => c.cond.isDefined || c.action != DeleteRow)) {
      val dup = srcDf.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).count()
      require(dup == 0,
        s"MERGE source $sA has duplicate keys on ${keys.mkString(",")} — " +
          "updates would be nondeterministic (Delta's multiple-matches " +
          "error)")
    }
    sc.commit(spark, tgt, operation = "MERGE") { dir =>
      val stage = new org.apache.hadoop.fs.Path(dir)
      val cur = sc.currentLocation(spark, tgt).getOrElse(
        sys.error(s"MERGE target $tgt has no published version"))
      if (sync) {
        val aligned = srcDf.select(
          dv.read(spark, tgt).columns.toSeq.map(col): _*)
        enforceConstraints(spark, tgt, aligned, "MERGE INTO")
        aligned.write.parquet(dir)
        // Full rewrite: no files carried, so no sidecar entries survive
        // (the source is the whole state) — but stats columns recompute
        // for the fresh files and stream progress carries.
        graft.storage.StatsSkipping.refreshStats(spark, cur, stage)
        sc.carryBatchId(spark, cur, stage)
      } else {
        val allFiles = sc.listData(spark, cur) // (basename, physical)
        val rawSchema = sc.readData(spark, tgt).schema
        keys.foreach(k => require(
          rawSchema.fieldNames.exists(_.equalsIgnoreCase(k)),
          s"MERGE target $tgt has no key column $k"))
        val srcKeys = srcDf.select(keys.map(col): _*).distinct()
        // Probe. The semi-join carries no literal bounds StatsSkippingRule
        // could prune with, so a target WITH a stats sidecar restricts the
        // probe scan to the source keys' per-column [min, max] (Delta's
        // source-stats file pruning: one tiny agg on the source, pushed
        // down onto the scan); a stats-less target skips the agg (it could
        // prune nothing, and an extra job per statement is real cost in
        // per-micro-batch MERGE loops). Null keys never equi-match; an
        // all-null or empty source skips the probe scan entirely.
        val touched: Set[String] =
          if (matched.isEmpty) Set.empty
          else {
            val range =
              if (graft.storage.StatsSkipping.loadStats(spark, cur)
                  .exists(_.nonEmpty)) sourceKeyRange(srcDf, keys)
              else Some(lit(true))
            range match {
              case None => Set.empty
              case Some(rangePred) =>
                dv.readWithProvenance(spark, tgt, "_graft_file")
                  .filter(rangePred)
                  .select(keys.map(col) :+ col("_graft_file"): _*)
                  .join(srcKeys, keys, "left_semi")
                  .select("_graft_file").distinct()
                  .collect().map(_.getString(0)).toSet
            }
          }
        val touchedPhys = allFiles.collect {
          case (n, p) if touched(n) => p.toString }
        val touchedLive =
          if (touchedPhys.isEmpty) sc.readData(spark, tgt).limit(0)
          else dv.mask(spark, tgt, spark.read.schema(rawSchema)
            .parquet(touchedPhys: _*))
        val kept = touchedLive.join(srcKeys, keys, "left_anti")
        def aligned = srcDf.select(rawSchema.fieldNames.toSeq.map(col): _*)
        def clauseIndex(conds: Seq[Option[Column]]): Column =
          conds.zipWithIndex.foldRight(lit(0)) { case ((c, i), rest) =>
            when(c.getOrElse(lit(true)), lit(i + 1)).otherwise(rest) }
        val deleteIdx = matched.zipWithIndex.collect {
          case (MatchedClause(_, DeleteRow), i) => i + 1 }
        // Does the matched pair's first holding clause delete it?
        val isDel =
          if (deleteIdx.isEmpty) lit(false)
          else col(IdxCol).isin(deleteIdx.map(Int.box): _*)
        // The post-cascade value of column `f` for a matched pair.
        def cascadeCol(f: org.apache.spark.sql.types.StructField): Column =
          matched.zipWithIndex.foldLeft(
              col(s"$tA.${f.name}").cast(f.dataType)) {
            case (v, (MatchedClause(_, UpdateAll), i)) =>
              when(col(IdxCol) === i + 1,
                col(s"$sA.${f.name}").cast(f.dataType)).otherwise(v)
            case (v, (MatchedClause(_, UpdateSet(sets)), i)) =>
              sets.find(_._1.equalsIgnoreCase(f.name)).fold(v) { case (_, e) =>
                when(col(IdxCol) === i + 1, e.cast(f.dataType)).otherwise(v) }
            case (v, _) => v
          }.as(f.name)
        lazy val withIdx = touchedLive.alias(tA)
          .join(srcDf.alias(sA), keys.map(k =>
            col(s"$tA.$k") === col(s"$sA.$k")).reduce(_ && _), "inner")
          .withColumn(IdxCol, clauseIndex(matched.map(_.cond)))
        // Unmatched SOURCE rows. When the probe ran, the touched subset
        // holds EVERY live matched key by construction, so the anti-join
        // needs only the touched files' keys; an insert-only MERGE (no
        // probe) pays the full live-key scan, its only target read.
        lazy val insertOut = {
          val liveKeys = (if (matched.nonEmpty) touchedLive
            else dv.read(spark, tgt)).select(keys.map(col): _*).distinct()
          srcDf.alias(sA).join(liveKeys, keys, "left_anti")
            .withColumn(IdxCol, clauseIndex(notMatched.map(_.cond)))
            .filter(col(IdxCol) > 0)
            .select(rawSchema.fields.toSeq.map { f =>
              notMatched.zipWithIndex.foldLeft(lit(null).cast(f.dataType)) {
                case (v, (NotMatchedClause(_, action), i)) =>
                  val e = action match {
                    case InsertAll => Some(col(s"$sA.${f.name}"))
                    case InsertCols(cols, vals) =>
                      val j = cols.indexWhere(_.equalsIgnoreCase(f.name))
                      if (j >= 0) Some(vals(j)) else None
                  }
                  e.fold(v)(c => when(col(IdxCol) === i + 1,
                    c.cast(f.dataType)).otherwise(v))
              }.as(f.name)
            }: _*)
        }
        val mergeOut =
          if (starUpsert) kept.unionByName(aligned)
          else {
            val matchedOut =
              if (matched.isEmpty) touchedLive.limit(0)
              else withIdx.filter(!isDel)
                .select(rawSchema.fields.toSeq.map(cascadeCol): _*)
            val out = matchedOut.unionByName(kept)
            if (notMatched.isEmpty) out else out.unionByName(insertOut)
          }
        // The change-data-feed images (Delta's _change_data), derived from
        // the same construction as the rewrite.
        def images: DataFrame =
          if (starUpsert) {
            // Every live matched key lives in the touched subset, so its
            // distinct keys split the source into updates and inserts.
            val liveKeys = touchedLive.select(keys.map(col): _*).distinct()
            touchedLive.join(srcKeys, keys, "left_semi")
              .withColumn("change_type", lit("update_preimage"))
              .unionByName(aligned.join(liveKeys, keys, "left_semi")
                .withColumn("change_type", lit("update_postimage")))
              .unionByName(aligned.join(liveKeys, keys, "left_anti")
                .withColumn("change_type", lit("insert")))
          } else {
            val matchedImgs = if (matched.isEmpty) None else Some {
              val pre = struct((rawSchema.fields.toSeq.map(f =>
                col(s"$tA.${f.name}").cast(f.dataType).as(f.name)) :+
                when(isDel, lit("delete"))
                  .otherwise(lit("update_preimage")).as("change_type")): _*)
              val post = struct((rawSchema.fields.toSeq.map(cascadeCol) :+
                lit("update_postimage").as("change_type")): _*)
              // A delete emits its pre-image only; an update both images —
              // one pass over the matched pairs.
              withIdx.filter(col(IdxCol) > 0)
                .select(explode(when(isDel, array(pre))
                  .otherwise(array(pre, post))).as("_img"))
                .select(col("_img.*"))
            }
            val insertImgs = if (notMatched.isEmpty) None
              else Some(insertOut.withColumn("change_type", lit("insert")))
            (matchedImgs.toSeq ++ insertImgs).reduce(_.unionByName(_))
          }
        enforceConstraints(spark, tgt, mergeOut, "MERGE INTO")
        // The rewrite job overlaps the metadata tail (carry links, DV
        // stamp, CDC images are independent of the rewrite's output files;
        // guide §2.6); refreshStats lists the staged files, so it joins
        // first. mode("append"): see runUpdate — fresh stage dir per
        // attempt, and the overlapped tail may create the directory first.
        overlapped { mergeOut.write.mode("append").parquet(dir) } {
          def carryStamp(): Long = {
            allFiles.foreach { case (n, p) =>
              if (!touched(n))
                sc.carry(spark, p, new org.apache.hadoop.fs.Path(stage, n))
            }
            dv.stampVersion(spark, tgt, stage, op = "MERGE",
              added = Nil, dropped = touched)
          }
          // MERGE consumes a change version; with delta.enableChangeDataFeed
          // its row images record at DML time, and WITHOUT the property the
          // feed fails LOUDLY on a range covering it (changesBetween's _op
          // dispatch). Like runUpdate, the image write runs CONCURRENTLY
          // with carry+stamp — both only need the statement's target
          // version, deterministic up front.
          if (dv.cdfEnabled(spark, tgt)) {
            val vNext = dv.nextStampVersion(spark, tgt)
            overlapped {
              dv.recordImages(spark, tgt, vNext,
                images.withColumn("commit_version", lit(vNext)))
            } {
              val v = carryStamp()
              require(v == vNext, s"MERGE INTO $tgt: stamped version " +
                s"$v diverged from the precomputed image version $vNext")
            }
          } else carryStamp()
        }
        graft.storage.StatsSkipping.refreshStats(spark, cur, stage)
        sc.carryBatchId(spark, cur, stage)
      }
    }
    } finally if (mustPin) srcDf.unpersist(false)
    dv.realign(spark, tgt) // re-point (or drop) the <tgt>__dv table
    sc.register(spark, tgt)
      .getOrElse(sys.error(s"MERGE into $tgt left no published version"))
  }

  /** Execute `UPDATE t SET c = e, ... [WHERE pred]` as a TOUCHED-FILE
    * rewrite commit (Delta's UPDATE shape): probe which files hold a
    * LIVE row matching the predicate, rewrite only those files' live
    * rows (matching rows take the assignments, each cast to its
    * column's type; non-matching rows pass through verbatim), carry
    * every untouched file plus the `_dv`/`_stats`/`_batchid` sidecars
    * by name. Write IO ∝ files holding matched rows; no WHERE updates
    * everything (a full rewrite, by definition). Assignments may
    * reference the row's own columns (`SET v = v + 1`). All phases
    * derive inside the staging closure — a lost optimistic claim
    * rebases onto the winner's rows, like MERGE.
    */
  private def runUpdate(spark: SparkSession, tbl: String,
      sets: Seq[(String, Column)], cond: Option[Column]): Long = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val sc = graft.storage.SnapshotCommit
    val dv = graft.storage.DeletionVectors
    sc.register(spark, tbl)
    sc.commit(spark, tbl, operation = "UPDATE") { dir =>
      val stage = new org.apache.hadoop.fs.Path(dir)
      val cur = sc.currentLocation(spark, tbl).getOrElse(
        sys.error(s"UPDATE target $tbl has no published version"))
      val allFiles = sc.listData(spark, cur)
      val rawSchema = sc.readData(spark, tbl).schema
      sets.foreach { case (c, _) =>
        require(rawSchema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"UPDATE target $tbl has no column $c") }
      val pred = cond.getOrElse(lit(true))
      val probe = dv.readWithProvenance(spark, tbl, "_graft_file")
        .filter(pred)
      // The predicate evaluates in TWO jobs (file probe, then the
      // per-row rewrite inside touched files): a non-deterministic one
      // could match rows in files the probe never selected — a silent
      // lost update. Fail loudly instead (Delta rejects these too).
      require(!graft.pipeline.Pipeline.nonDeterministic(probe.toDF()),
        s"UPDATE $tbl: WHERE predicate must be deterministic " +
          "(rand()/sampled subqueries evaluate differently between the " +
          "file probe and the rewrite)")
      val touched: Set[String] = probe
        .select("_graft_file").distinct()
        .collect().map(_.getString(0)).toSet
      val touchedPhys = allFiles.collect {
        case (n, p) if touched(n) => p.toString }
      val touchedLive =
        if (touchedPhys.isEmpty) sc.readData(spark, tbl).limit(0)
        else dv.mask(spark, tbl, spark.read.schema(rawSchema)
          .parquet(touchedPhys: _*))
      val updated = touchedLive.select(rawSchema.fields.toSeq.map { f =>
        sets.find(_._1.equalsIgnoreCase(f.name)) match {
          case Some((_, e)) =>
            when(pred, e.cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
      enforceConstraints(spark, tbl, updated, "UPDATE")
      // The rewrite job overlaps the metadata tail (carry links, DV
      // stamp, CDC images — all independent of the rewrite's output
      // files; guide §2.6 "overlap independent jobs"). refreshStats
      // below lists the staged files, so it joins first.
      // mode("append"): each commit attempt stages into a FRESH
      // UUID-named directory, so append == errorIfExists in outcome —
      // but the overlapped metadata tail (carry/_dv mkdirs) legally
      // creates the stage directory first, which the default
      // ErrorIfExists pre-check would misread as a conflict.
      overlapped { updated.write.mode("append").parquet(dir) } {
        def carryStamp(): Long = {
          allFiles.foreach { case (n, p) =>
            if (!touched(n))
              sc.carry(spark, p, new org.apache.hadoop.fs.Path(stage, n))
          }
          dv.stampVersion(spark, tbl, stage, op = "UPDATE",
            added = Nil, dropped = touched)
        }
        // Record the pre/post images (Delta's _change_data) when the
        // table opted in via delta.enableChangeDataFeed — Delta's gate,
        // and the recording's extra bounded scan of the touched files is
        // paid only by tables that asked for a feed. Derived in ONE scan
        // (each matched row explodes into its pre and post image — a
        // union would read the touched files twice). The image write is
        // independent of carry+stamp (both only need the statement's
        // target version, deterministic up front via nextStampVersion),
        // so the two run CONCURRENTLY (guide §2.6) — the tail's wall is
        // max(images, carry+stamp), not their sum; a version mismatch
        // aborts the commit (the orphan image dir is unreferenced).
        if (dv.cdfEnabled(spark, tbl)) {
          import org.apache.spark.sql.functions.{array, explode, lit, struct}
          def image(tag: String, applySets: Boolean) = struct(
            (rawSchema.fields.toSeq.map { f =>
              sets.find(_._1.equalsIgnoreCase(f.name)) match {
                case Some((_, e)) if applySets =>
                  e.cast(f.dataType).as(f.name)
                case _ => col(f.name).cast(f.dataType).as(f.name)
              }
            } :+ lit(tag).as("change_type")): _*)
          val vNext = dv.nextStampVersion(spark, tbl)
          overlapped {
            dv.recordImages(spark, tbl, vNext, touchedLive.filter(pred)
              .select(explode(array(image("update_preimage", false),
                image("update_postimage", true))).as("_img"))
              .select(col("_img.*"))
              .withColumn("commit_version", lit(vNext)))
          } {
            val v = carryStamp()
            require(v == vNext, s"UPDATE $tbl: stamped version $v " +
              s"diverged from the precomputed image version $vNext")
          }
        } else carryStamp()
      }
      graft.storage.StatsSkipping.refreshStats(spark, cur, stage)
      sc.carryBatchId(spark, cur, stage)
    }
    dv.realign(spark, tbl)
    sc.register(spark, tbl)
      .getOrElse(sys.error(s"UPDATE of $tbl left no published version"))
  }

  /** Execute `ALTER TABLE t ADD COLUMNS (...)` — schema evolution on
    * the versioned surface (the most common ALTER after SET
    * TBLPROPERTIES). The widened column set is METADATA: one commit
    * carries every data file by name (no data IO — pre-widening files
    * null-fill the new columns on read, standard parquet evolution),
    * stamps the change axis (`_op:ALTER` — table_changes skips it, it
    * moves no rows), and records the widened DDL in the schema ledger
    * (`graft.schema.v<version>` in the root `_properties` sidecar; the
    * first ALTER also records `v0` = the original schema, so `VERSION
    * AS OF` below the alter serves the OLD column set — Delta's
    * time-travel schema semantics). Narrowing/renaming is rejected:
    * only additive evolution keeps every historical file readable.
    * A plain (non-versioned) catalog table delegates to Spark's own
    * AlterTableAddColumnsCommand; returns the published version, or -1
    * for the delegated path.
    */
  private def runAddColumns(spark: SparkSession, tbl: String,
      colsDdl: String): Long = {
    import org.apache.spark.sql.types.StructType
    val sc = graft.storage.SnapshotCommit
    val dv = graft.storage.DeletionVectors
    val newCols = StructType.fromDDL(colsDdl)
    require(newCols.nonEmpty, s"ADD COLUMNS $tbl: no columns parsed " +
      s"from ($colsDdl)")
    if (sc.currentVersion(spark, tbl).isEmpty) {
      // Plain catalog table: Spark's own ALTER (native parquet schema
      // evolution). Through the command, never spark.sql — an injected
      // session would recurse into this parser.
      org.apache.spark.sql.execution.command.AlterTableAddColumnsCommand(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl),
        newCols.fields.toSeq).run(spark)
      return -1L
    }
    sc.register(spark, tbl)
    val old = sc.readData(spark, tbl).schema
    newCols.fieldNames.foreach(c => require(
      !old.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"ADD COLUMNS $tbl: column $c already exists"))
    val widened = StructType((old.fields ++ newCols.fields).toSeq)
    var stamped = -1L
    sc.commit(spark, tbl, operation = "ADD COLUMNS") { dir =>
      val stage = new org.apache.hadoop.fs.Path(dir)
      val cur = sc.currentLocation(spark, tbl).getOrElse(
        sys.error(s"ADD COLUMNS target $tbl has no published version"))
      sc.carryData(spark, cur, stage)
      graft.storage.StatsSkipping.refreshStats(spark, cur, stage)
      sc.carryBatchId(spark, cur, stage)
      stamped = dv.stampVersion(spark, tbl, stage, op = "ALTER",
        added = Nil)
    }
    val ledger = sc.schemaVersions(spark, tbl)
    sc.setProperties(spark, tbl,
      Map(s"${sc.SchemaPropPrefix}$stamped" -> widened.toDDL) ++
        (if (ledger.isEmpty)
          Map(s"${sc.SchemaPropPrefix}0" -> old.toDDL)
        else Map.empty))
    dv.realign(spark, tbl)
    // The commit's own registration re-declared the catalog BEFORE the
    // ledger existed (footers still say the old columns) — re-declare
    // explicitly now; other sessions pick the ledger up through
    // pointAt's moved-location repair on their next register.
    if (spark.sessionState.catalog.getTempView(tbl).isEmpty &&
        spark.catalog.tableExists(tbl)) {
      val id = org.apache.spark.sql.catalyst.TableIdentifier(tbl)
      spark.sessionState.catalog.alterTableDataSchema(id, widened)
      spark.sql(s"REFRESH TABLE $tbl")
    } else if (spark.sessionState.catalog.getTempView(tbl).isDefined) {
      // Manifest-mode registration: the view the commit re-created
      // predates the ledger — rebuild it under the widened schema.
      val paths = sc.dataFiles(spark, tbl).map(_._2.toString)
      if (paths.nonEmpty)
        spark.read.schema(widened).parquet(paths: _*)
          .createOrReplaceTempView(tbl)
    }
    sc.register(spark, tbl)
    stamped
  }

  /** Execute `ALTER TABLE t DROP COLUMN(S) ...` — LOGICAL removal
    * through the schema ledger, Delta's drop-column shape: one
    * metadata-only commit carries every data file by name (the files
    * keep the column's bytes — no rewrite, which is the whole point at
    * 100 TB), stamps the change axis (`_op:ALTER`, moves no rows), and
    * records the narrowed DDL in the ledger. Live reads project the
    * narrowed column set; `VERSION AS OF` below the alter still serves
    * the dropped column FROM the carried files (readDataAs reads the
    * effective historical schema by name). Guards: the column must
    * exist, at least one column must remain, and a column referenced
    * by a CHECK constraint cannot be dropped (Delta's rule — drop the
    * constraint first). Versioned tables only: a plain catalog parquet
    * table cannot serve a narrowed projection without the ledger, so
    * the statement requires the snapshot surface (CONVERT first).
    */
  private def runDropColumns(spark: SparkSession, tbl: String,
      cols: Seq[String]): Long = {
    import org.apache.spark.sql.types.StructType
    val sc = graft.storage.SnapshotCommit
    val dv = graft.storage.DeletionVectors
    require(cols.nonEmpty, s"DROP COLUMNS $tbl: no columns named")
    require(sc.currentVersion(spark, tbl).isDefined,
      s"ALTER TABLE $tbl DROP COLUMN: not a versioned table — " +
        "CONVERT TO DELTA first (a plain parquet table cannot serve " +
        "a logically-narrowed schema)")
    sc.register(spark, tbl)
    val old = sc.readData(spark, tbl).schema
    cols.foreach(c => require(
      old.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"DROP COLUMNS $tbl: no column $c"))
    val dropped = cols.map(_.toLowerCase).toSet
    val narrowed = StructType(old.fields.toSeq.filterNot(f =>
      dropped(f.name.toLowerCase)))
    require(narrowed.nonEmpty,
      s"DROP COLUMNS $tbl: cannot drop every column")
    constraintsOf(spark, tbl).foreach { case (name, cond) =>
      val lc = cond.toLowerCase
      cols.foreach(c => require(
        !lc.matches(s"(?s).*\\b${java.util.regex.Pattern
          .quote(c.toLowerCase)}\\b.*"),
        s"DROP COLUMNS $tbl: column $c is referenced by CHECK " +
          s"constraint $name ($cond) — DROP CONSTRAINT first"))
    }
    var stamped = -1L
    sc.commit(spark, tbl, operation = "DROP COLUMNS") { dir =>
      val stage = new org.apache.hadoop.fs.Path(dir)
      val cur = sc.currentLocation(spark, tbl).getOrElse(
        sys.error(s"DROP COLUMNS target $tbl has no published version"))
      sc.carryData(spark, cur, stage)
      graft.storage.StatsSkipping.refreshStats(spark, cur, stage)
      sc.carryBatchId(spark, cur, stage)
      stamped = dv.stampVersion(spark, tbl, stage, op = "ALTER",
        added = Nil)
    }
    val ledger = sc.schemaVersions(spark, tbl)
    sc.setProperties(spark, tbl,
      Map(s"${sc.SchemaPropPrefix}$stamped" -> narrowed.toDDL) ++
        (if (ledger.isEmpty)
          Map(s"${sc.SchemaPropPrefix}0" -> old.toDDL)
        else Map.empty))
    dv.realign(spark, tbl)
    // Re-declare under the narrowed schema (the commit's registration
    // predates the ledger entry) — the ADD COLUMNS pattern, except
    // alterTableDataSchema REFUSES dropped columns, so narrow via the
    // drop+recreate re-declare pointAt's narrowing arm uses (same
    // metadata and location — the table's identity continues).
    if (spark.sessionState.catalog.getTempView(tbl).isEmpty &&
        spark.catalog.tableExists(tbl)) {
      val id = org.apache.spark.sql.catalyst.TableIdentifier(tbl)
      val cat0 = spark.sessionState.catalog.getTableMetadata(id)
      // The entry must be EXTERNAL before the drop: dropping a MANAGED
      // table DELETES its location — which by now is the live version
      // directory (a saveAsTable-then-CONVERT table stays MANAGED
      // through pointAt's ALTER SET LOCATION). Every snapshot table's
      // data lifecycle belongs to the commit protocol, not the
      // catalog, so EXTERNAL is also simply the truthful type.
      val cat = cat0.copy(schema = narrowed,
        tableType =
          org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL)
      if (cat0.tableType !=
          org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL)
        spark.sessionState.catalog.alterTable(
          cat0.copy(tableType = org.apache.spark.sql.catalyst.catalog
            .CatalogTableType.EXTERNAL))
      spark.sessionState.catalog.dropTable(id,
        ignoreIfNotExists = true, purge = false)
      spark.sessionState.catalog.createTable(cat, ignoreIfExists = true)
      spark.sql(s"REFRESH TABLE $tbl")
    } else if (spark.sessionState.catalog.getTempView(tbl).isDefined) {
      val paths = sc.dataFiles(spark, tbl).map(_._2.toString)
      if (paths.nonEmpty)
        spark.read.schema(narrowed).parquet(paths: _*)
          .createOrReplaceTempView(tbl)
    }
    sc.register(spark, tbl)
    stamped
  }

  /** Execute `CREATE [OR REPLACE] TABLE t AS <query>` as a snapshot
    * commit — the statement that previously fell through to Spark's
    * plain `saveAsTable` and bypassed the commit protocol entirely (no
    * version chain, no stats, no time travel). Here every CTAS'd table
    * is a versioned table out of the box: the query's output commits as
    * the next version through [[graft.storage.StatsSkipping
    * .commitWithStats]] with per-file stats on EVERY output column
    * (Delta records stats on its leading columns at write; the sidecar
    * encoder simply skips types it cannot stat), so DESCRIBE HISTORY,
    * VERSION AS OF and default-path skipping work immediately.
    * Plain CREATE fails on an existing table (Delta's TABLE_OR_VIEW_
    * ALREADY_EXISTS); OR REPLACE commits a full-overwrite version —
    * history survives, the deletion-vector sidecar does not carry (its
    * coordinates name the replaced files).
    */
  private def runCtas(spark: SparkSession, tbl: String, query: LogicalPlan,
      replace: Boolean): Long = {
    val sc = graft.storage.SnapshotCommit
    val existing = sc.register(spark, tbl)
    require(replace || (existing.isEmpty && !spark.catalog.tableExists(tbl)),
      s"CREATE TABLE $tbl: table already exists " +
        "(use CREATE OR REPLACE TABLE to commit a replacing version)")
    val df = Bridge.ofRows(spark, resolveTimeTravel(spark, query))
    require(!df.isStreaming, s"CTAS $tbl cannot run a streaming query")
    val statsCols = df.schema.fieldNames.toSeq
    val op =
      if (replace && existing.isDefined) "REPLACE TABLE AS SELECT"
      else "CREATE TABLE AS SELECT"
    graft.storage.StatsSkipping.commitWithStats(spark, tbl, statsCols,
      operation = op) { stage =>
      df.write.mode("overwrite").parquet(stage)
      // A REPLACE moves no stream progress: shed the _batchid marker
      // here and the sink's next crash-replay re-appends an already-
      // committed batch (the carryBatchId contract — INSERT OVERWRITE
      // carries it for the same reason).
      sc.currentLocation(spark, tbl).foreach(prev =>
        sc.carryBatchId(spark, prev, new org.apache.hadoop.fs.Path(stage)))
    }
    graft.storage.DeletionVectors.realign(spark, tbl) // replace drops _dv
    if (replace) { // the change axis, schema ledger and constraints
      // reset with it (REPLACE is a new table definition — Delta
      // drops CHECK constraints there, unlike INSERT OVERWRITE which
      // keeps and enforces them)
      graft.storage.DeletionVectors.pruneImages(spark, tbl, Long.MaxValue)
      sc.removeProperties(spark, tbl, k =>
        k.startsWith(sc.SchemaPropPrefix) ||
          k.startsWith(ConstraintPropPrefix))
    }
    sc.register(spark, tbl)
      .getOrElse(sys.error(s"CTAS of $tbl left no published version"))
  }

  /** The INSERT command wrapper: versioned path when the target is (or
    * can become) snapshot-managed, Spark's own insertInto otherwise. */
  private def insertCommand(tbl: String, query: LogicalPlan,
      cols: Option[Seq[String]], byName: Boolean, overwrite: Boolean)
      : GraftMaintenanceCommand = {
    val op = if (overwrite) "INSERT OVERWRITE" else "INSERT"
    GraftMaintenanceCommand(s"$op $tbl", { spark =>
      val v = runInsert(spark, tbl, query, overwrite, cols, byName)
      Seq("table" -> tbl, "operation" -> op,
        (if (v >= 0) "version" -> v.toString
         else "mode" -> "delegated (plain catalog table)"))
    })
  }

  /** Delta's CHECK-constraint property namespace (the literal key
    * format Delta records: `delta.constraints.<name>` = expr). */
  private[graft] val ConstraintPropPrefix = "delta.constraints."

  /** The liquid-clustering declaration (Delta's `clusteringColumns`
    * vocabulary): comma-separated columns a plain OPTIMIZE
    * re-clusters by. */
  private[graft] val ClusteringColsProp = "clusteringColumns"

  /** The table's recorded CHECK constraints, name -> expression. One
    * sidecar-file read; tables without a `_properties` sidecar pay a
    * single existence probe. */
  private def constraintsOf(spark: SparkSession,
      tbl: String): Map[String, String] =
    graft.storage.SnapshotCommit.properties(spark, tbl).collect {
      case (k, v) if k.startsWith(ConstraintPropPrefix) =>
        k.drop(ConstraintPropPrefix.length) -> v
    }

  /** Enforce every CHECK constraint on the rows a statement is about
    * to commit — Delta's write-time invariant, surfaced before the
    * staged write so a violation aborts the whole commit and publishes
    * nothing. NULL predicate results PASS (SQL's CHECK rule: violated
    * only when FALSE). Cost: zero for tables with no constraints (one
    * property probe); with constraints, one extra pass over the NEW /
    * rewritten rows per constraint — write-proportional, never
    * table-proportional.
    */
  private def enforceConstraints(spark: SparkSession, tbl: String,
      rows: DataFrame, stmt: String): Unit = {
    val cs = constraintsOf(spark, tbl)
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    cs.foreach { case (name, cond) =>
      val bad = rows.filter(not(coalesce(expr(cond).cast("boolean"),
        lit(true)))).limit(1).collect()
      if (bad.nonEmpty) sys.error(
        s"$stmt $tbl: CHECK constraint $name ($cond) violated by " +
          s"row ${bad.mkString} — nothing was committed")
    }
  }

  /** Can `tbl` be adopted into the versioned surface — an existing,
    * non-view, unpartitioned catalog table whose files live in one flat
    * directory ([[graft.storage.DeletionVectors.ensureSnapshot]]'s
    * requirements, probed instead of thrown)? */
  private def canAdopt(spark: SparkSession, tbl: String): Boolean =
    spark.sessionState.catalog.getTempView(tbl).isEmpty &&
      spark.catalog.tableExists(tbl) && scala.util.Try {
        val meta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl))
        meta.partitionColumnNames.isEmpty && {
          val files = spark.table(tbl).inputFiles
          files.nonEmpty && files.map(f =>
            new org.apache.hadoop.fs.Path(f).getParent.toUri.getPath)
            .distinct.sizeIs == 1
        }
      }.getOrElse(false)

  /** Execute `CONVERT TO DELTA t [NO STATISTICS]` — the in-place
    * migration statement, metadata-only: version 1 = the table's
    * current files carried by name (hard link / manifest ref, zero
    * data IO), the catalog repointed at the published version, and —
    * unless NO STATISTICS — a per-file min/max `_stats` sidecar built
    * from the parquet FOOTERS on every column (one footer read per
    * file, the cost Delta's own CONVERT pays; never a data scan), so
    * default-path skipping, metadata-only aggregates, time travel and
    * DESCRIBE HISTORY all work from the first post-convert second.
    * Converting an already-versioned table is a NO-OP returning the
    * current version (Delta's rule — CONVERT is idempotent).
    * Partitioned or multi-directory tables fail loudly: hive
    * partition VALUES live in directory names, which a flat file
    * carry would silently lose (the [[graft.storage.DeletionVectors
    * .ensureSnapshot]] contract, surfaced at statement level).
    * Returns (published version, files carried, stats mode).
    */
  private def runConvert(spark: SparkSession, tbl: String,
      withStats: Boolean): (Long, Long, String) = {
    val sc = graft.storage.SnapshotCommit
    sc.register(spark, tbl) match {
      case Some(v) => (v, 0L, "no-op (already a versioned table)")
      case None =>
        require(spark.sessionState.catalog.getTempView(tbl).isEmpty,
          s"CONVERT TO DELTA $tbl: cannot convert a temp view")
        require(spark.catalog.tableExists(tbl),
          s"CONVERT TO DELTA $tbl: table not found")
        val meta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl))
        require(meta.tableType !=
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW,
          s"CONVERT TO DELTA $tbl: cannot convert a view")
        require(meta.partitionColumnNames.isEmpty,
          s"CONVERT TO DELTA $tbl: hive-partitioned tables are not " +
            s"supported (partition columns " +
            s"${meta.partitionColumnNames.mkString(", ")} live in " +
            "directory names a flat file carry would lose)")
        val files0 = spark.table(tbl).inputFiles
        require(files0.nonEmpty,
          s"CONVERT TO DELTA $tbl: table has no files")
        require(files0.map(f => new org.apache.hadoop.fs.Path(f)
            .getParent.toUri.getPath).distinct.sizeIs == 1,
          s"CONVERT TO DELTA $tbl: files span multiple directories " +
            "(partitioned or bucketed-by-path layout); conversion " +
            "carries a single flat directory")
        val nFiles = files0.length.toLong
        // Re-derived per attempt: commit may re-invoke after a lost
        // optimistic claim, and the list must reflect the then-current
        // catalog state.
        def carryAll(stage: String): Unit = {
          val to = new org.apache.hadoop.fs.Path(stage)
          spark.table(tbl).inputFiles.foreach { f =>
            val src = new org.apache.hadoop.fs.Path(
              new org.apache.hadoop.fs.Path(f).toUri.getPath)
            sc.carry(spark, src, new org.apache.hadoop.fs.Path(to,
              src.getName))
          }
        }
        if (withStats)
          graft.storage.StatsSkipping.commitWithStats(spark, tbl,
            spark.table(tbl).schema.fieldNames.toSeq,
            operation = "CONVERT")(carryAll)
        else sc.commit(spark, tbl, operation = "CONVERT")(carryAll)
        (sc.register(spark, tbl).getOrElse(sys.error(
          s"CONVERT TO DELTA $tbl left no published version")),
          nFiles,
          if (withStats) "footer-derived" else "none (NO STATISTICS)")
    }
  }

  /** Execute `INSERT INTO t <query>` as an APPEND commit: the query's
    * rows write as new files, every previous file carries by name (hard
    * link / manifest ref — no data IO), and the `_dv`/`_stats`/
    * `_batchid` sidecars ride along exactly as they do through MERGE —
    * deleted rows stay deleted, skipping keeps pruning, exactly-once
    * sink replay survives. A plain catalog table is ADOPTED into the
    * versioned surface on its first INSERT (version 1 = its files
    * carried, the Delta CONVERT shape) — and when it CANNOT adopt
    * (empty, partitioned, multi-directory, or a view), the statement
    * falls back to Spark's own `insertInto` with the same alignment
    * (review r16: the unconditional adopt broke the plain
    * `CREATE TABLE t (...); INSERT INTO t VALUES ...` flow). Columns
    * align to the target BY POSITION with a cast — SQL INSERT
    * semantics — or by the explicit COLUMN LIST (BY NAME: the query's
    * own column names) with unnamed target columns null-filled; arity
    * mismatches fail loudly. `overwrite =
    * true` (INSERT OVERWRITE) commits a FULL-REPLACE version instead:
    * nothing carries (the DV sidecar's coordinates name the replaced
    * files, so it is dropped with them), stats recompute for the new
    * files, and history keeps the replaced version readable until
    * prune. Returns the published version, or -1 for the plain-catalog
    * fallback.
    */
  private def runInsert(spark: SparkSession, tbl: String,
      query: LogicalPlan, overwrite: Boolean, userCols: Option[Seq[String]],
      byName: Boolean): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.StructType
    val sc = graft.storage.SnapshotCommit
    val dv = graft.storage.DeletionVectors
    val stmt = if (overwrite) "INSERT OVERWRITE" else "INSERT INTO"
    val src = Bridge.ofRows(spark, resolveTimeTravel(spark, query))
    require(!src.isStreaming, s"$stmt $tbl cannot run a streaming query")
    // BY NAME aligns like a column list naming the query's own columns.
    val cols = if (byName) Some(src.columns.toSeq) else userCols
    cols.foreach(distinctCols(_, s"$stmt $tbl"))
    def alignTo(target: StructType): DataFrame = cols match {
      case None =>
        require(src.schema.length == target.length,
          s"$stmt $tbl: query produces ${src.schema.length} columns, " +
            s"table has ${target.length}")
        src.toDF(target.fieldNames.toIndexedSeq: _*)
          .select(target.fields.toSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)): _*)
      case Some(cs) =>
        require(cs.size == src.schema.length,
          s"$stmt $tbl: column list names ${cs.size} columns, the " +
            s"query produces ${src.schema.length}")
        cs.foreach(c => require(
          target.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"$stmt target $tbl has no column $c"))
        src.toDF(cs.toIndexedSeq: _*).select(target.fields.toSeq.map { f =>
          cs.find(_.equalsIgnoreCase(f.name)) match {
            case Some(c) => col(c).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
    }
    if (sc.currentVersion(spark, tbl).isEmpty && !canAdopt(spark, tbl)) {
      // Plain-catalog fallback: Spark's own insert (loud on views and
      // missing tables) — the versioned path needs files to adopt.
      // Built through the DataFrame writer, never back through this
      // parser (a spark.sql delegate would recurse on an injected
      // session).
      val aligned = alignTo(spark.table(tbl).schema)
      // Constraints declared before first adoption (the documented
      // pre-adoption properties path) still gate the delegated insert.
      enforceConstraints(spark, tbl, aligned, stmt)
      val w = aligned.write
      (if (overwrite) w.mode("overwrite") else w).insertInto(tbl)
      return -1L
    }
    dv.ensureSnapshot(spark, tbl) // adopt a plain table on first INSERT
    sc.register(spark, tbl)
    sc.commit(spark, tbl,
      operation = if (overwrite) "INSERT OVERWRITE" else "WRITE") { dir =>
      val stage = new org.apache.hadoop.fs.Path(dir)
      // Aligned INSIDE the closure: a rebase re-reads the then-current
      // target schema (a concurrent widening commit could change it).
      val aligned = alignTo(sc.readData(spark, tbl).schema)
      enforceConstraints(spark, tbl, aligned, stmt)
      aligned.write.mode("overwrite").parquet(dir)
      if (overwrite) {
        // Replace semantics: fresh content, fresh stats, progress
        // marker carried (maintenance/replace moves no stream progress).
        // The change axis RESETS with the dropped sidecar (documented
        // divergence: Delta's CDF spans a REPLACE; here the feed
        // restarts at the replaced state), so recorded images go too.
        graft.storage.StatsSkipping.recomputeStats(spark, stage,
          aligned.schema.fieldNames.toSeq)
        sc.currentLocation(spark, tbl).foreach(prev =>
          sc.carryBatchId(spark, prev, stage))
        dv.pruneImages(spark, tbl, Long.MaxValue)
        sc.removeProperties(spark, tbl,
          _.startsWith(sc.SchemaPropPrefix)) // fresh content, fresh schema
      } else {
        // The fresh files are exactly what is in the stage BEFORE the
        // carry; the version stamp's _add: sentinels name them so
        // table_changes can serve this insert.
        val appended = sc.listData(spark, stage).map(_._1)
        sc.currentLocation(spark, tbl).foreach { prev =>
          sc.carryData(spark, prev, stage)
          graft.storage.StatsSkipping.refreshStats(spark, prev, stage)
          sc.carryBatchId(spark, prev, stage)
        }
        dv.stampVersion(spark, tbl, stage, op = "WRITE",
          added = appended)
      }
    }
    dv.realign(spark, tbl)
    sc.register(spark, tbl)
      .getOrElse(sys.error(s"$stmt $tbl left no published version"))
  }

  /** Execute `COPY INTO t FROM '<path>' FILEFORMAT = CSV|JSON|PARQUET`
    * — Databricks' idempotent batch-ingest statement. The source
    * directory's data files (recursive, underscore/dot entries
    * skipped) are diffed against the table's `_copy:` ledger; only
    * NEVER-LOADED files read (CSV/JSON under the target's schema —
    * COPY aligns by name/position to an existing table, Databricks'
    * contract; parquet by name with cast) and commit as one append
    * version (`_op:COPY`, so table_changes serves the load as inserts).
    * Re-running the statement is a NO-OP (zero files, no commit) — the
    * exactly-once discipline the streaming sink's `_batchid` gives
    * micro-batches, generalized to ad-hoc loads. `COPY_OPTIONS
    * ('force'='true')` reloads everything. Returns (version or -1 when
    * nothing loaded, files loaded, rows loaded).
    */
  private def runCopyInto(spark: SparkSession, tbl: String, path: String,
      fmt: String, fmtOpts: Map[String, String],
      copyOpts: Map[String, String]): (Long, Long, Long) = {
    val sc = graft.storage.SnapshotCommit
    val dv = graft.storage.DeletionVectors
    require(sc.currentVersion(spark, tbl).isDefined ||
      spark.catalog.tableExists(tbl),
      s"COPY INTO $tbl: target table does not exist (COPY INTO loads " +
        "into an existing table — CREATE TABLE ... AS first)")
    dv.ensureSnapshot(spark, tbl)
    sc.register(spark, tbl)
    val force = copyOpts.exists { case (k, v2) =>
      k.equalsIgnoreCase("force") && v2.equalsIgnoreCase("true") }
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"COPY INTO $tbl: source path $path " +
      "does not exist")
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st.getPath.toUri.getPath)
      }
    val all = (if (fs.getFileStatus(root).isDirectory) walk(root)
      else Seq(root.toUri.getPath)).sorted
    val loaded = if (force) Set.empty[String]
      else dv.copiedSources(spark, tbl)
    val fresh = all.filterNot(loaded)
    if (fresh.isEmpty) return (-1L, 0L, 0L)
    val target = sc.readData(spark, tbl).schema
    val reader = spark.read.options(fmtOpts)
    val src = fmt match {
      case "CSV" => reader.schema(target).csv(fresh: _*)
      case "JSON" => reader.schema(target).json(fresh: _*)
      case "PARQUET" =>
        val raw = reader.parquet(fresh: _*)
        target.fieldNames.foreach(c => require(
          raw.columns.exists(_.equalsIgnoreCase(c)),
          s"COPY INTO $tbl: source parquet has no column $c"))
        raw.select(target.fields.toSeq.map(f =>
          org.apache.spark.sql.functions.col(f.name)
            .cast(f.dataType).as(f.name)): _*)
      case other => sys.error(
        s"COPY INTO $tbl: FILEFORMAT $other not supported " +
          "(CSV, JSON, PARQUET)")
    }
    var rows = 0L
    sc.commit(spark, tbl, operation = "COPY INTO") { dir =>
      val stage = new org.apache.hadoop.fs.Path(dir)
      enforceConstraints(spark, tbl, src, "COPY INTO")
      src.write.mode("overwrite").parquet(dir)
      val appended = sc.listData(spark, stage).map(_._1)
      rows = spark.read.parquet(
        appended.map(n => new org.apache.hadoop.fs.Path(stage, n)
          .toString): _*).count()
      sc.currentLocation(spark, tbl).foreach { prev =>
        sc.carryData(spark, prev, stage)
        graft.storage.StatsSkipping.refreshStats(spark, prev, stage)
        sc.carryBatchId(spark, prev, stage)
      }
      dv.stampVersion(spark, tbl, stage, op = "COPY",
        added = appended, copied = fresh)
    }
    dv.realign(spark, tbl)
    sc.register(spark, tbl)
    (dv.version(spark, tbl), fresh.size.toLong, rows)
  }

  /** Parse a SQL timestamp string ('yyyy-MM-dd[ HH:mm:ss[.SSS]]') to
    * epoch millis in the SESSION time zone — the zone Spark itself
    * would cast the literal under. */
  private[graft] def parseTsMs(spark: SparkSession, s: String): Long = {
    val zone = java.time.ZoneId.of(spark.conf.get(
      "spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))
    val t = s.trim
    val ldt =
      if (t.matches("\\d{4}-\\d{2}-\\d{2}"))
        java.time.LocalDate.parse(t).atStartOfDay()
      else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
    ldt.atZone(zone).toInstant.toEpochMilli
  }

  /** Resolve `FROM t VERSION AS OF v` / `FROM t TIMESTAMP AS OF ts`
    * (which Spark parses into a
    * [[org.apache.spark.sql.catalyst.analysis.RelationTimeTravel]] node
    * that v1 analysis rejects) against the engine's own time-travel
    * axis: the node rewrites to [[graft.storage.DeletionVectors.readAt]]
    * over the named table — version 0 is the pre-delete state, version
    * v the table as of delete version v (b4's semantics, now reachable
    * as plain SQL). A TIMESTAMP anchor resolves to the latest delete
    * version committed at or before it (Delta's rule) through the
    * sidecar's `_ts:` sentinels
    * ([[graft.storage.DeletionVectors.versionAtTimestamp]] — loud
    * failure before the table's first commit or on a pre-sentinel
    * timeline). `table_changes(t, v1, v2)` — Delta's CDC TVF — rewrites
    * to [[graft.storage.DeletionVectors.changesBetween]]. Non-numeric
    * versions, unparseable timestamps and multipart names delegate to
    * Spark's error path untouched.
    */
  private[graft] def resolveTimeTravel(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
      (tt.relation, tt.timestamp, tt.version) match {
        case (u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation,
            None, Some(v))
          if u.multipartIdentifier.length == 1 &&
            v.forall(_.isDigit) && v.nonEmpty =>
          graft.storage.DeletionVectors
            .readAt(spark, u.multipartIdentifier.head, v.toLong)
            .queryExecution.analyzed
        case (u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation,
            Some(ts), None) if u.multipartIdentifier.length == 1 =>
          import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
          import org.apache.spark.sql.types.{StringType, TimestampType}
          val ms: Option[Long] = ts match {
            case Literal(s, StringType) =>
              scala.util.Try(parseTsMs(spark, s.toString)).toOption
            case Literal(us: Long, TimestampType) => Some(us / 1000L)
            case Cast(Literal(s, StringType), TimestampType, _, _) =>
              scala.util.Try(parseTsMs(spark, s.toString)).toOption
            case _ => None
          }
          ms.map(m => graft.storage.DeletionVectors
            .readAtTimestamp(spark, u.multipartIdentifier.head, m)
            .queryExecution.analyzed).getOrElse(tt)
        case _ => tt
      }
    case tvf: org.apache.spark.sql.catalyst.analysis
        .UnresolvedTableValuedFunction
      if tvf.name.length == 1 &&
        tvf.name.head.equalsIgnoreCase("table_changes") =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      tvf.functionArgs match {
        case Seq(Literal(t, org.apache.spark.sql.types.StringType),
            Literal(v1, _), Literal(v2, _)) =>
          val tbl = t.toString
          (changeBound(spark, tbl, v1.toString, isStart = true),
            changeBound(spark, tbl, v2.toString, isStart = false)) match {
            case (Some(from), Some(to)) =>
              graft.storage.DeletionVectors
                .changesBetween(spark, tbl, from, to)
                .queryExecution.analyzed
            case _ => sys.error(
              s"table_changes('$tbl', ...): a bound is neither a version " +
                s"number nor a parseable timestamp: ('$v1', '$v2')")
          }
        case _ => sys.error(
          "table_changes takes (table-name string, from, to) literals " +
            "— each bound a version number or a timestamp string; " +
            s"got: ${tvf.functionArgs}")
      }
  }

  /** One `table_changes` bound: a digit string is a version number;
    * anything else must parse as a session-zone timestamp and resolves
    * on the change axis — the START bound to the latest version
    * strictly before it ([[graft.storage.DeletionVectors
    * .changeStartAtTimestamp]]'s exclusive-from contract, so versions
    * committed AT the instant are served), the END bound to the latest
    * version at-or-before it (Delta's rule). None = not a bound (the
    * caller's loud-error path); resolution failures on a VALID
    * timestamp (partial timeline, pre-creation, beyond-latest)
    * propagate loudly.
    */
  private def changeBound(spark: SparkSession, tbl: String, s: String,
      isStart: Boolean): Option[Long] =
    if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong)
    else scala.util.Try(parseTsMs(spark, s)).toOption.map { ms =>
      if (isStart) graft.storage.DeletionVectors
        .changeStartAtTimestamp(spark, tbl, ms)
      else graft.storage.DeletionVectors
        .versionAtTimestamp(spark, tbl, ms)
    }

  /** Run a statement on a LIVE session (whose parser was fixed at
    * build) through the same `parsePlan` the injected parser runs. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    val parser = spark.sessionState.sqlParser match {
      case p: GraftSqlParser => p
      case p => new GraftSqlParser(p, spark)
    }
    Bridge.ofRows(spark, parser.parsePlan(text))
  }
}
