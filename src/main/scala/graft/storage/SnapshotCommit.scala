package graft.storage

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileSystem, Path}

/** Thrown when a commit loses the optimistic race and its writer cannot
  * rebase (maxAttempts exhausted, or a maintenance op that stages state
  * derived before the conflicting commit). The Delta analogue is a
  * ConcurrentModificationException from a conflicting transaction.
  */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

/** Pointer-file table commits — the minimal slice of a Delta/Iceberg
  * transaction log that closes the non-atomic snapshot-swap window.
  *
  * The reference's tables inherit atomic commits from Delta
  * (`scripts/gold/fact_order_items.sql:11-18` tblproperties assume the
  * transaction log); without Delta jars the engine previously staged a
  * new snapshot and swapped it under the live directory with
  * delete-then-rename — a crash between the two left NO readable table.
  * This utility removes that window:
  *
  *  - every version of a table lives in its own immutable directory
  *    under `<warehouse>/_graft_snapshots/<table>/` — staged as a
  *    writer-private `.stage-<uuid>/`, renamed to `v<N>/` once its
  *    commit wins (resolution accepts both names, so the rename is
  *    cosmetic, not load-bearing);
  *  - publishing version N is ONE atomic filesystem operation: a
  *    no-clobber rename of a content-bearing temp file to the pointer
  *    name `_commits/<N>` (content = the snapshot directory's name).
  *    The target name is claimed exclusively — rename fails if the
  *    pointer already exists — so two writers can never both publish
  *    the same version;
  *  - readers resolve the CURRENT version as the highest-numbered
  *    pointer whose named snapshot directory exists. A crash before the
  *    pointer claim leaves the old pointer current (the private staging
  *    directory is invisible garbage, reclaimed later); a crash after
  *    it leaves the new version current (directory finalization,
  *    catalog registration and pruning are replayed by the next
  *    [[register]]/[[commit]]). At every instant a reader sees exactly
  *    the old or the new version — never a half-swapped directory.
  *
  * MULTI-WRITER ARBITRATION (optimistic concurrency, the property the
  * reference inherits from Delta's log): [[commit]] stages against the
  * current version, then atomically claims `current + 1`. If the claim
  * is lost — another commit published first — the staged work is
  * discarded, the catalog is re-pointed at the winner's version, and
  * the write closure is RE-INVOKED so it restages (rebases) onto the
  * new base; bounded by `maxAttempts`, after which
  * [[ConcurrentCommitException]] surfaces the conflict. Two layers
  * enforce the claim's exclusivity: writers in one JVM serialize the
  * resolve-and-claim step through a per-table lock (the same
  * single-driver arbitration delta-io's S3 LogStore uses), and writers
  * in different processes fall back to the store's no-clobber rename
  * (atomic on HDFS; object stores without it need an external lock
  * service, exactly as Delta-on-S3 does).
  *
  * THE WRITE CLOSURE CONTRACT: `write` may run more than once. It must
  * derive everything it stages from the CURRENT committed state (read
  * `spark.table`/[[currentLocation]] inside the closure, not captured
  * frames from before the commit call) — [[commit]] re-registers the
  * catalog before every invocation precisely so a re-run sees the new
  * base. Writers that cannot re-derive (e.g. vacuum, which pre-stages
  * rewritten files) pass `maxAttempts = 1` and surface conflicts
  * instead of retrying.
  *
  * CARRY — how unchanged files travel between versions: [[carry]]
  * hard-links a file into the staged directory on a `file:` filesystem
  * (a directory entry, no data IO) and copies it on any other Hadoop
  * filesystem, so a version costs its rewritten bytes locally but
  * O(table) on an object store. Either way every version directory
  * holds all of its data files under their original basenames: a
  * version is one directory, the catalog table points at it, and
  * DeletionVectors' (file, row) coordinates stay valid across carries.
  *
  * Version retention: pruning keeps the current AND previous versions
  * (the previous version's files may still be under a concurrent
  * reader, or the base of a concurrent writer about to lose its claim
  * and rebase) — the same "recently superseded files linger until
  * VACUUM" economics as Delta's default retention, at link cost.
  */
object SnapshotCommit {

  /** Test-only failure injection: invoked with "staged" after the new
    * snapshot directory is fully written but BEFORE the pointer claim,
    * and "committed" after the claim but before directory finalization,
    * catalog registration and pruning. PipelineSpec kills the protocol
    * at both points and proves every read still resolves a complete
    * version; the concurrency spec uses "staged" as a rendezvous to
    * force two writers into the same claim.
    */
  private[graft] var failpoint: String => Unit = _ => ()

  /** Per-table claim serialization for writers sharing this JVM. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Slow-path registrations completed since JVM start — a test probe
    * (specs assert a clone hits the fast path by pinning this counter),
    * not part of the protocol. */
  private[graft] val slowRegisters =
    new java.util.concurrent.atomic.AtomicLong()

  /** Name of the per-root incarnation marker: [[commit]] writes a fresh
    * UUID once per root creation and [[destroy]] deletes it with the
    * root, so its modification time is the table's creation instant —
    * [[DeletionVectors.versionAtTimestamp]] refuses timestamps before
    * it. */
  private[graft] val IncarnationMarker = "_incarnation"

  /** Staging directories owned by live commits in this JVM — protected
    * from garbage collection regardless of age. */
  private val activeStages =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Age (ms) below which an unreferenced staging directory is presumed
    * to belong to a live writer in ANOTHER process and is left alone. */
  private val StageGraceMs = 60L * 60 * 1000

  def rootDir(spark: SparkSession, table: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s"_graft_snapshots/$table")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitsPath(root: Path) = new Path(root, "_commits")

  private def versionOf(name: String): Option[Long] =
    if (name.forall(_.isDigit) && name.nonEmpty) Some(name.toLong) else None

  /** The directory a published version's pointer names, if it exists:
    * the finalized `v<N>` when present, else the staging directory the
    * pointer's content records (a commit whose finalization rename has
    * not happened yet — crash recovery, or the instant before
    * [[register]] replays it). A version is renamed only from its
    * staging directory to `v<N>`, so when the staging probe misses,
    * `v<N>` is probed once more: a [[finalizeDir]] that ran between the
    * two probes has published it there.
    */
  private[graft] def resolveDir(spark: SparkSession, table: String,
      v: Long): Option[Path] = {
    val root = rootDir(spark, table)
    val fs = fsOf(spark, root)
    val vd = new Path(root, s"v$v")
    if (fs.exists(vd)) Some(vd)
    else scala.util.Try {
      val in = fs.open(new Path(commitsPath(root), v.toString))
      val name =
        try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      new Path(root, name)
    }.toOption.filter(fs.exists).orElse(Some(vd).filter(fs.exists))
  }

  /** Highest published version whose snapshot directory exists. */
  def currentVersion(spark: SparkSession, table: String): Option[Long] = {
    val root = rootDir(spark, table)
    val fs = fsOf(spark, root)
    val c = commitsPath(root)
    if (!fs.exists(c)) None
    else fs.listStatus(c).toSeq
      .flatMap(st => versionOf(st.getPath.getName))
      .sorted(Ordering[Long].reverse)
      .find(v => resolveDir(spark, table, v).isDefined)
  }

  /** The current snapshot directory, if any version has been published. */
  def currentLocation(spark: SparkSession, table: String): Option[Path] =
    currentVersion(spark, table).flatMap(resolveDir(spark, table, _))

  /** The data files of a snapshot directory. Underscore- and
    * dot-prefixed entries (sidecars, staging temps) are not data.
    */
  def listData(spark: SparkSession, dir: Path): Seq[Path] = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
  }

  /** The current version's data files as (basename, path) pairs — the
    * shape perfbench's storage listing reads. */
  def dataFiles(spark: SparkSession, table: String): Seq[(String, Path)] =
    currentFiles(spark, table).map(p => p.getName -> p)

  private def currentFiles(spark: SparkSession, table: String): Seq[Path] =
    currentLocation(spark, table).map(listData(spark, _)).getOrElse(Nil)

  /** The committed table: `spark.table(table)`, whose catalog location
    * is the current version directory. Kept for perfbench's harness;
    * the engine calls `spark.table` directly. */
  def readData(spark: SparkSession,
      table: String): org.apache.spark.sql.DataFrame = spark.table(table)

  /** The current version's data files read under an EXPLICIT schema —
    * the historical-schema read path (time travel on an evolved
    * table): parquet matches columns BY NAME, so a schema from any
    * ledger entry serves — columns added since null-fill in old files,
    * columns dropped since still read from the files that carry their
    * bytes (drop is logical-only; the physical data stays until a
    * rewrite). */
  private[graft] def readCurrentAs(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    val paths = currentFiles(spark, table).map(_.toString)
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  /** Cross-process claim arbitration, pluggable per store semantics —
    * see [[CommitLock]]. Default: no-clobber rename (atomic on local/
    * HDFS/ABFS). Deployments on rename-less stores install a
    * lock-service implementation here once, before any commit.
    */
  @volatile private var commitLock: CommitLock = RenameCommitLock

  /** Install the claim arbitration for this JVM (e.g.
    * [[FileLockCommitLock]], or a DynamoDB/ZooKeeper-backed lock on
    * S3-semantics stores). Returns the previously installed lock so
    * tests can restore it. Deployments that would rather not call code
    * set `spark.graft.commit.lock` to the implementation's class name
    * (object or no-arg class) instead — the conf, when present, wins. */
  def setCommitLock(l: CommitLock): CommitLock = {
    val prev = commitLock; commitLock = l; prev
  }

  /** Conf-resolved [[CommitLock]] instances, one per class name. */
  private val lockCache =
    new java.util.concurrent.ConcurrentHashMap[String, CommitLock]()

  private def resolveLock(spark: SparkSession): CommitLock =
    spark.conf.getOption("spark.graft.commit.lock") match {
      case None => commitLock
      case Some(cn) => lockCache.computeIfAbsent(cn, { n =>
        // Scala object (MODULE$) or a class with a no-arg constructor.
        val loaded =
          try Class.forName(n + "$").getField("MODULE$").get(null)
          catch { case _: ClassNotFoundException | _: NoSuchFieldException =>
            Class.forName(n).getDeclaredConstructor().newInstance() }
        loaded.asInstanceOf[CommitLock]
      })
    }

  /** Atomically claim pointer `v` with `dirName` as content. Exclusive:
    * returns false (never clobbers) if another writer claimed `v`
    * first. Arbitration delegates to the configured [[CommitLock]].
    */
  private def claimPointer(spark: SparkSession, fs: FileSystem, root: Path,
      v: Long, dirName: String): Boolean = {
    val c = commitsPath(root)
    fs.mkdirs(c)
    resolveLock(spark).claim(fs, new Path(c, v.toString), dirName)
  }

  /** Stage a new snapshot via `write` (handed a writer-private staging
    * directory, which it must fully populate), then publish it with the
    * single pointer claim, re-point the catalog, and prune superseded
    * versions. On a lost claim the write is re-invoked against the
    * winner's version (see the write-closure contract in the object
    * scaladoc) up to `maxAttempts` times. Returns the published
    * location.
    */
  def commit(spark: SparkSession, table: String, maxAttempts: Int = 5,
      operation: String = "WRITE")(
      write: String => Unit): Path = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    val root = rootDir(spark, table)
    val fs = fsOf(spark, root)
    fs.mkdirs(root)
    // Stamp the root's incarnation marker once per root lifetime (see
    // [[IncarnationMarker]]): no-clobber create, so concurrent first
    // commits race benignly — the winner's marker stands. Prune never
    // touches root-level non-version entries; destroy removes the whole
    // root, so a rebuild mints a fresh marker.
    val marker = new Path(root, IncarnationMarker)
    if (!fs.exists(marker)) scala.util.Try {
      val out = fs.create(marker, false)
      try out.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
      finally out.close()
    }.failed.foreach { e =>
      // A lost no-clobber race is benign (the winner's marker stands); a
      // PERSISTENT create failure (quota, permissions) means this root
      // never gets a marker and TIMESTAMP AS OF refuses it — log it so
      // that state is diagnosable.
      System.err.println(
        s"[snapshot] incarnation marker create for $table skipped: $e")
    }
    val lock = tableLocks.computeIfAbsent(root.toString, _ => new Object)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      // Every (re)invocation sees the current committed state: replay
      // the registration tail of any interrupted commit, then stage.
      // THE BASE IS WHAT REGISTER ALIGNED TO — never a fresh pointer
      // listing, which can already be one version ahead of the catalog
      // state the closure derives from (see the register scaladoc; the
      // CrossProcessSpec rendezvous turns that skew into a lost update
      // deterministically enough to fail 1-in-3 runs).
      val base = register(spark, table).getOrElse(0L)
      val stageName = s".stage-${java.util.UUID.randomUUID().toString}"
      val stage = new Path(root, stageName)
      activeStages.add(stage.toString)
      var won = false
      try {
        write(stage.toString)
        writeVersionMeta(spark, stage, operation)
        failpoint("staged")
        val v = base + 1
        won = lock.synchronized {
          // Both checks inside the lock: the base must not have moved
          // (our staged content derives from it), and the pointer claim
          // itself must be exclusive (cross-process writers arbitrate
          // through the installed CommitLock — no-clobber rename by
          // default, a lock service on rename-less stores).
          currentVersion(spark, table).getOrElse(0L) == base &&
            claimPointer(spark, fs, root, v, stageName)
        }
        if (won) {
          failpoint("committed")
          val published = finalizeDir(spark, table, v)
          register(spark, table)
          prune(spark, table, keep = v)
          return published
        }
      } finally {
        activeStages.remove(stage.toString)
        if (!won) fs.delete(stage, true) // lost race or crashed: discard
      }
      // A lost claim is USUALLY a concurrent winner — but it can also be
      // a DANGLING pointer: one claimed by a writer whose staging
      // directory was GC'd before finalization (e.g. prune's stage
      // grace expiring under a stalled cross-process writer). Such a
      // pointer names a directory that no longer exists and nothing can
      // ever recreate (finalization only renames the recorded staging
      // dir), so currentVersion skips it forever while every new commit
      // re-derives the same base and re-loses the same claim — the
      // table would be permanently unwritable. Reap it: a pointer at
      // base+1 that resolves to NO directory and is older than the
      // stage grace window is dead by construction (the rename window
      // between staging name and v<N> leaves one of the two resolvable
      // at every instant, and the age bound puts us far outside it).
      // The whole reap is best-effort inside a Try: two processes can
      // reap the same dead pointer concurrently, so any step (the
      // getFileStatus after the exists probe, the delete itself) can
      // find the pointer already gone — that is the DESIRED end state,
      // not a commit failure, and must never surface as a
      // FileNotFoundException out of commit() in place of the
      // documented ConcurrentCommitException path.
      if (!won) scala.util.Try {
        val orphan = new Path(commitsPath(root), (base + 1).toString)
        if (fs.exists(orphan) &&
            resolveDir(spark, table, base + 1).isEmpty) {
          failpoint("reap")
          if (System.currentTimeMillis() -
              fs.getFileStatus(orphan).getModificationTime > StageGraceMs) {
            System.err.println(s"[snapshot] reaping dangling pointer " +
              s"v${base + 1} of $table (no directory, past grace)")
            fs.delete(orphan, false)
          }
        }
      }.failed.foreach { e =>
        // Only the pointer-already-gone case (a concurrent reaper beat
        // us) is benign silence; a PERSISTENT failure here (IO,
        // permissions) leaves the dangling pointer in place and every
        // retry re-loses the same claim into
        // ConcurrentCommitException — log the cause so that exhaustion
        // is diagnosable.
        System.err.println(
          s"[snapshot] reap probe of $table v${base + 1} skipped: $e")
      }
    }
    throw new ConcurrentCommitException(
      s"commit of $table lost the version claim $maxAttempts time(s) " +
        "to concurrent writers; rebase-and-retry budget exhausted")
  }

  /** One published version's commit-time audit record — what DESCRIBE
    * HISTORY serves without touching data files. `bytes`/`rows` are -1
    * when unknown (see [[writeVersionMeta]]). */
  private[graft] final case class VersionMeta(tsMs: Long, operation: String,
      nFiles: Long, bytes: Long, rows: Long)

  private val MetaFile = "_meta"

  /** Record the staged version's audit sidecar: ONE `listStatus` of the
    * stage directory (never a per-file `getFileStatus`) yields the data
    * file count and their exact total bytes — carried files are
    * physical in the version directory. Rows come free from the
    * `_stats` skipping sidecar when the closure wrote one and it covers
    * every data file; -1 otherwise. Best-effort: a failure here must
    * never fail the commit — history just degrades to the legacy
    * listing for this version.
    */
  private def writeVersionMeta(spark: SparkSession, stage: Path,
      operation: String): Unit = scala.util.Try {
    val fs = fsOf(spark, stage)
    val entries = fs.listStatus(stage).toSeq.filter(_.isFile).filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    val bytes = entries.map(_.getLen).sum
    val rows: Long = StatsSkipping.loadStats(spark, stage) match {
      case Some(stats) =>
        val perFile = entries.map(s =>
          stats.get(s.getPath.getName).flatMap(_.get(StatsSkipping.RowsCol)))
        if (perFile.exists(r => r.isEmpty || r.get.tpe != "rows")) -1L
        else scala.util.Try(perFile.map(_.get.min.toLong).sum).getOrElse(-1L)
      case None => -1L
    }
    val op = operation.replace("\t", " ").replace("\n", " ")
    val line = s"${System.currentTimeMillis()}\t$op\t${entries.size}" +
      s"\t$bytes\t$rows\n"
    val out = fs.create(new Path(stage, MetaFile), true)
    try out.write(line.getBytes("UTF-8")) finally out.close()
  }.failed.foreach(e => System.err.println(
    s"[snapshot] version meta for $stage not recorded " +
      s"(history falls back to listing): $e"))

  /** The version directory's commit-time audit record, if recorded. */
  private[graft] def versionMeta(spark: SparkSession,
      dir: Path): Option[VersionMeta] = scala.util.Try {
    val p = new Path(dir, MetaFile)
    val in = fsOf(spark, p).open(p)
    val line = try new String(in.readAllBytes(), "UTF-8").trim
      finally in.close()
    line.split("\t") match {
      case Array(ts, op, nf, by, rows) =>
        VersionMeta(ts.toLong, op, nf.toLong, by.toLong, rows.toLong)
      case _ => sys.error(s"unparseable $MetaFile: $line")
    }
  }.toOption

  /** Every version number with a pointer in `_commits`, ascending — ONE
    * directory listing, not a per-version existence probe (a streaming
    * sink publishing a version per batch makes 1..current probing
    * O(total versions) of filesystem round-trips). Pointers whose
    * directories were pruned still appear here; callers resolve the
    * survivors. */
  def publishedVersions(spark: SparkSession, table: String): Seq[Long] = {
    val root = rootDir(spark, table)
    val fs = fsOf(spark, root)
    val c = commitsPath(root)
    if (!fs.exists(c)) Seq.empty
    else fs.listStatus(c).toSeq
      .flatMap(st => versionOf(st.getPath.getName)).sorted
  }

  /** Rename a freshly-claimed version's staging directory to its stable
    * `v<N>` name. Idempotent and crash-replayable: if the rename never
    * happened (crash after the pointer claim), the pointer's content
    * still resolves the staging name, and the next register()/commit()
    * finishes the rename here.
    */
  private def finalizeDir(spark: SparkSession, table: String,
      v: Long): Path = {
    val root = rootDir(spark, table)
    val fs = fsOf(spark, root)
    val vd = new Path(root, s"v$v")
    if (!fs.exists(vd))
      resolveDir(spark, table, v).foreach { staged =>
        if (staged != vd) {
          failpoint("finalize")
          scala.util.Try(fs.rename(staged, vd)).failed.foreach { e =>
            // TWO processes legally race this same rename: the commit
            // winner finalizing its own claim, and any concurrent
            // register() replaying what it sees as an interrupted
            // finalization. The loser's rename finds the source already
            // gone — on RawLocalFileSystem that surfaces as a
            // FileNotFoundException out of the copy fallback, not a
            // false return — and "source gone, v<N> present" IS the
            // state both racers wanted. Only a rename failure that
            // leaves v<N> absent is a real error.
            if (!fs.exists(vd)) throw e
          }
        }
      }
    if (fs.exists(vd)) vd
    else resolveDir(spark, table, v).getOrElse(
      sys.error(s"published version v$v of $table has no directory"))
  }

  /** Align the session catalog with the published pointer: finish any
    * interrupted finalization rename, then create the external table at
    * the current location or re-point a stale registration. Safe to
    * call any time; replays the tail of a commit interrupted after its
    * pointer claim.
    *
    * RETURNS THE VERSION THE CATALOG NOW REFLECTS (None if nothing is
    * published) — and callers that stage work against the registered
    * state MUST use this value as their commit base. Re-listing the
    * pointers afterwards is the cross-process lost-update bug the
    * CrossProcessSpec rendezvous caught: a concurrent commit can land
    * between this call's listing and the re-list, so the re-listed
    * "current" is one ahead of what the catalog (and therefore the
    * write closure) actually derives from — the claim's base check then
    * validates the newer version and publishes stale-derived content
    * over the concurrent writer's commit.
    */
  def register(spark: SparkSession, table: String): Option[Long] =
    currentVersion(spark, table).map { v =>
      // Fast path: this session is demonstrably aligned with v — the
      // catalog points at v's directory AND nothing the
      // session has cached contradicts it. The check inspects the
      // ACTUAL staleness hazard the slow path's REFRESH exists to
      // clear, so it is safe for any session — including a
      // newSession() clone that never touched the table (empty
      // relation cache, shared external catalog): the r8 design
      // memoized (sessionState-identity, version) instead, which (a)
      // could collide across sessions, (b) leaked entries for dead
      // sessions, and (c) sent every clone down the slow path.
      if (registrationFresh(spark, table, v)) return Some(v)
      slowRegisters.incrementAndGet()
      pointAt(spark, table, finalizeDir(spark, table, v))
      v
    }

  /** Is THIS session fully aligned with version `v` of `table` — i.e.
    * would the slow path's ALTER + `REFRESH TABLE` be a no-op for it?
    * Two checks, both in-memory/metadata-only:
    *
    *  1. the catalog entry exists and its location is v's directory
    *     (metadata lookup wrapped in Try — a same-name temp view
    *     shadowing the table makes `tableExists` pass but the metadata
    *     lookup throw; that is a broken registration, answer false and
    *     let the slow path repair it);
    *  2. the session's RELATION CACHE either holds no entry
    *     for the table (nothing stale — the next resolution builds
    *     fresh from the catalog entry just verified) or holds one
    *     rooted at exactly v's directory. This is the direct form of
    *     the lost-update protection the r7 unconditional refresh
    *     bought: a rebasing writer that observed a concurrent winner's
    *     ALTER before the winner's REFRESH still carries the OLD
    *     location in its cache — the probe sees the mismatch and sends
    *     it down the slow path. (Like the refresh it replaces, the
    *     probe does not re-validate `df.persist`ed query results over
    *     the table — CacheManager entries are the caller's to manage.)
    */
  private[graft] def registrationFresh(spark: SparkSession, table: String,
      v: Long): Boolean =
    // A same-name temp view SHADOWS the catalog table for every
    // spark.table read — never fresh; the slow path's pointAt drops it.
    // resolveDir accepts either name the version lives under (finalized
    // v<N> or its pre-finalization staging name).
    spark.sessionState.catalog.getTempView(table).isEmpty &&
      resolveDir(spark, table, v)
        .exists(d => catalogAligned(spark, table, d))

  /** The file-source root paths a cached relation plan resolves to —
    * the thing a missed REFRESH would leave stale. */
  private def rootPaths(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
      ): Seq[String] =
    plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toUri.getPath)
          case _ => Seq("#non-fs-relation") // unexpected shape: stale
        }
    }.flatten

  /** Is the session fully consistent with `table` living at `loc` —
    * would ALTER + REFRESH be a no-op? True iff the catalog entry
    * exists with exactly that location (metadata lookup Try-wrapped:
    * any half-broken registration answers false and lets the caller
    * repair) AND the session's RELATION CACHE either holds no entry
    * (nothing stale — the next resolution builds fresh from the
    * verified catalog entry) or holds one rooted at exactly `loc` AND
    * carrying the current catalog entry's createTime. The createTime
    * guard tells INCARNATIONS apart: a destroyed-and-rebuilt table
    * restarts at v1 under the IDENTICAL path, so a sibling session's
    * cache entry from the dead incarnation passes a pure path check
    * and would serve deleted files; rebuilding recreates the catalog
    * entry with a fresh createTime. The probe is the direct form of
    * the lost-update protection an unconditional REFRESH bought (a
    * rebasing writer that observed a concurrent winner's ALTER before
    * the winner's REFRESH still carries the OLD location in its cache
    * — the probe sees the mismatch). Like the refresh it replaces, it
    * does not re-validate `df.persist`ed query results over the table
    * — CacheManager entries are the caller's to manage.
    */
  private def catalogAligned(spark: SparkSession, table: String,
      loc: Path): Boolean =
    spark.catalog.tableExists(table) && {
      val cat = spark.sessionState.catalog
      val meta = scala.util.Try(cat.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))).toOption
      meta.exists { m =>
        val mLoc = new Path(m.location).toUri.getPath
        mLoc == loc.toUri.getPath && {
          // Key construction mirrors FindDataSourceTable
          // .readDataSourceTable (QualifiedTableName(identifier.catalog,
          // database, table)) — the rule that populates the cache; the
          // cross-session staleness test pins that this key finds real
          // entries.
          val key = org.apache.spark.sql.catalyst.QualifiedTableName(
            m.identifier.catalog.getOrElse("spark_catalog"),
            m.identifier.database.getOrElse(cat.getCurrentDatabase),
            m.identifier.table)
          cat.getCachedTable(key) match {
            case null => true
            case cached =>
              rootPaths(cached) == Seq(mLoc) &&
                cached.collectFirst {
                  case lr: org.apache.spark.sql.execution.datasources
                      .LogicalRelation => lr.catalogTable
                }.flatten.exists { ct =>
                  // createTime has ms resolution — a destroy-and-rebuild
                  // landing in the same millisecond would alias. The
                  // `graft.incarnation` UUID pointAt stamps at CREATE is
                  // resolution-free: the cached entry must carry the
                  // CURRENT incarnation (tables created before the
                  // property existed carry none on either side — the
                  // forall passes and createTime still guards them).
                  ct.createTime == m.createTime &&
                    m.properties.get("graft.incarnation").forall(cur =>
                      ct.properties.get("graft.incarnation").contains(cur))
                }
          }
        }
      }
    }

  /** The Catalyst schema one data file's footer declares, via the
    * serialized Spark schema key Spark's own inference consults first —
    * a single footer read instead of a full DataSource inference pass
    * (~30-40 ms saved on EVERY commit: pointAt's drift probe runs each
    * time the location moves). `asNullable` for parity with inference,
    * which force-nullables file-based schemas — without it a
    * non-nullable writer schema would read as drift on every commit and
    * trigger a re-declare loop. None (→ caller falls back to full
    * inference) when the dir has no parquet file, the footer carries no
    * Spark schema, or anything throws. */
  private def footerSparkSchema(spark: SparkSession,
      loc: Path): Option[org.apache.spark.sql.types.StructType] =
    scala.util.Try {
      val fs = fsOf(spark, loc)
      fs.listStatus(loc).find(s => s.isFile &&
          s.getPath.getName.endsWith(".parquet")).flatMap { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(st.getPath, spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata"))
          .flatMap(j => scala.util.Try(
            org.apache.spark.sql.graftbridge.Bridge.asNullable(
              org.apache.spark.sql.types.DataType.fromJson(j)
                .asInstanceOf[org.apache.spark.sql.types.StructType]))
            .toOption)
        finally r.close()
      }
    }.toOption.flatten

  /** Create `table` at `loc`, or re-point a registration whose catalog
    * location differs (the aligned case returns on the fast path below),
    * repairing schema drift when the location move crossed a
    * widening/narrowing commit.
    *
    * CACHING CONTRACT: registration invalidates the session's RELATION
    * cache only (SessionCatalog.refreshTable). Plans a caller pinned
    * with `df.persist()`/`cache()` over a snapshot table are the
    * CALLER's responsibility — a version publish does NOT recache them,
    * and a persisted plan can keep serving pre-commit rows until the
    * caller unpersists (the fast path skips refresh entirely, so this
    * was never guaranteed on any path). This is the deliberate price of
    * the ~20 ms registration: the REFRESH TABLE command's CacheManager
    * recache pass costs a plan resolution per COMMIT for a protection
    * the engine's own query paths never rely on (none of them persist
    * snapshot-table plans across commits).
    */
  def pointAt(spark: SparkSession, table: String, loc: Path): Unit = {
    // Bounded retry: the repair arm's metadata lookup can find the table
    // GONE (a concurrent destroy/DROP raced the CREATE IF NOT EXISTS —
    // the window the create-then-repair flow opens) — that must re-run
    // the CREATE, not escape a read path as NoSuchTableException. Two
    // re-runs bound the livelock; a table being destroyed in a loop is
    // not a state this call can usefully outwait.
    var attempts = 3
    while (attempts > 0) {
      attempts -= 1
      // A same-name TEMP VIEW would shadow the catalog table for every
      // spark.table read and make the metadata lookup below throw —
      // remove it; this name belongs to the snapshot table.
      if (spark.sessionState.catalog.getTempView(table).isDefined)
        spark.catalog.dropTempView(table)
      if (!spark.catalog.tableExists(table))
        // IF NOT EXISTS: two threads can race the tableExists probe on an
        // unregistered table (e.g. two writers' first commits, or a
        // commit racing a register() from a read path); the loser must
        // fall through, not throw TableAlreadyExists out of a read.
        spark.sql(s"CREATE TABLE IF NOT EXISTS $table USING parquet " +
          s"LOCATION '$loc' TBLPROPERTIES ('graft.incarnation' = " +
          s"'${java.util.UUID.randomUUID()}')")
      // NOT an else: a loser of the CREATE IF NOT EXISTS race falls
      // through with the WINNER's registration in place — if the winner
      // created the table at a different location (e.g. a reader's
      // register() racing a writer's post-commit re-point to the next
      // version), proceeding without
      // re-checking would leave this caller silently reading the winner's
      // location. The alignment check below is shared by both arrivals:
      // a winner (or already-registered caller) at `loc` passes it and
      // skips; everyone else takes the ALTER + REFRESH repair.
      if (catalogAligned(spark, table, loc)) return
      scala.util.Try(spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))) match {
        case scala.util.Failure(e) =>
          // Vanished between the alignment probe and the lookup: loop
          // back to the CREATE. Surface the cause only once the retry
          // budget is spent.
          if (attempts == 0) throw e
        case scala.util.Success(cat) =>
          if (new Path(cat.location).toUri.getPath != loc.toUri.getPath) {
            // SCHEMA EVOLUTION: the catalog entry froze the schema it
            // inferred from the CREATE-time location, and ALTER SET
            // LOCATION does not re-infer — a widening commit would keep
            // serving the OLD column set forever (new columns silently
            // invisible). Version directories are immutable, so the
            // catalog schema can only be stale when the LOCATION moves:
            // compare against the new directory's actual footer schema
            // (one metadata read) and re-declare the columns when they
            // differ. alterTableDataSchema keeps the table entry — and
            // with it the incarnation UUID and every user table
            // property — where a DROP + CREATE would mint a new
            // incarnation and lose properties. (ALTER ... REPLACE
            // COLUMNS would be the SQL spelling, but it is v2-only.)
            // NARROWING/RENAMING commits (and RESTORE to a pre-widening
            // version, which moves the location BACKWARD) fail that
            // API's no-dropped-columns validation — and by this point
            // the new pointer is already published, so throwing here
            // would brick the table for every later register()/read.
            // Fall back to recreating the entry with the SAME metadata
            // (properties, incarnation UUID — the table's identity
            // continues; this is a re-declare, not a destroy/rebuild).
            // An evolved table's authoritative schema is its ledger —
            // the new version directory still holds pre-widening files
            // whose footers would re-declare the OLD columns.
            val actual = schemaVersions(spark, table).lastOption
              .map(_._2)
              .orElse(footerSparkSchema(spark, loc))
              .getOrElse(spark.read.parquet(loc.toString).schema)
            if (cat.schema != actual) {
              val id = org.apache.spark.sql.catalyst.TableIdentifier(table)
              val sc = spark.sessionState.catalog
              scala.util.Try(sc.alterTableDataSchema(id, actual))
                .recoverWith { case _ => scala.util.Try {
                  // TOLERANT flags: pointAt is a read-path repair and
                  // two callers legally race it — the loser's drop may
                  // find the table gone and its create may find the
                  // winner's already in place; neither is an error
                  // here. A residual failure (e.g. drop succeeded,
                  // create transiently failed — table briefly GONE) is
                  // logged and left to this loop's next iteration,
                  // whose CREATE IF NOT EXISTS re-establishes the
                  // entry rather than letting the exception escape a
                  // read.
                  sc.dropTable(id, ignoreIfNotExists = true, purge = false)
                  sc.createTable(cat.copy(schema = actual,
                    storage = cat.storage.copy(
                      locationUri = Some(loc.toUri))),
                    ignoreIfExists = true)
                }}.failed.foreach { e =>
                  System.err.println(
                    s"[snapshot] schema re-declare of $table failed " +
                      s"(retrying via the repair loop): $e")
                }
            }
            // Direct catalog alter, not spark.sql("ALTER TABLE ... SET
            // LOCATION"): the SQL spelling re-parses and re-analyzes a
            // DDL per COMMIT (~40 ms each — this runs on every version
            // publish), and the command's only effects are the alterTable
            // below plus the cache refresh the aligned branch performs
            // anyway (stats cleared for parity with the command).
            scala.util.Try {
              val id2 = org.apache.spark.sql.catalyst.TableIdentifier(table)
              val sc2 = spark.sessionState.catalog
              val cur2 = sc2.getTableMetadata(id2)
              sc2.alterTable(cur2.copy(
                storage = cur2.storage.copy(locationUri = Some(loc.toUri)),
                stats = None))
            }.failed.foreach { e =>
                // The re-declare drop/create race can momentarily
                // remove the table under this ALTER — loop back to the
                // CREATE arm instead of escaping a read path.
                System.err.println(
                  s"[snapshot] ALTER LOCATION of $table lost a repair " +
                    s"race (retrying): $e")
              }
            if (catalogAligned(spark, table, loc)) {
              // SessionCatalog.refreshTable, not the full REFRESH TABLE
              // command: it invalidates exactly the session relation
              // cache the freshness probe (registrationFresh #2)
              // guards. The command's extra CacheManager pass protects
              // df.persist()ed results, which the registration contract
              // explicitly leaves to the caller (fast path returns with
              // no refresh at all), and costs a plan resolution per
              // COMMIT.
              spark.sessionState.catalog.refreshTable(
                org.apache.spark.sql.catalyst.TableIdentifier(table))
              return
            }
            // Not aligned after the tolerant repair (a racing repair
            // or a transient catalog failure): retry the loop — its
            // CREATE IF NOT EXISTS re-establishes a vanished entry —
            // instead of falling into the unconditional REFRESH below,
            // which would return with a misaligned (or absent) table.
          } else {
            // REFRESH even when the location already matches: a
            // concurrent winner's (ALTER, REFRESH) pair is not atomic,
            // so a rebasing loser can observe the NEW location (and
            // skip the ALTER) while the session's relation cache still
            // holds the listing its own previous attempt resolved
            // against the OLD location — its rebase would then silently
            // merge onto stale files (measured: a real 1-in-3
            // lost-update flake under the concurrency spec's forced
            // rendezvous). catalogAligned inspects exactly that cache
            // entry, so the aligned fast path above skips this branch
            // ONLY when nothing stale can exist — turning the per-read
            // REFRESH tax on steady-state DV reads into a metadata-only
            // probe while keeping the rendezvous protection. (Relation-
            // cache invalidation only — see the aligned branch above.)
            spark.sessionState.catalog.refreshTable(
              org.apache.spark.sql.catalyst.TableIdentifier(table))
            return
          }
      }
    }
    sys.error(s"pointAt($table, $loc) could not align the catalog " +
      "after 3 repair attempts — persistent catalog failure or a " +
      "destroy/repair livelock")
  }

  /** Delete snapshot directories and pointer files superseded by
    * `keep`, RETAINING the previous version (concurrent readers may
    * still hold it; a concurrent writer may be staging against it and
    * about to rebase). Unreferenced staging directories are collected
    * once they are neither owned by a live commit in this JVM nor
    * younger than the cross-process grace window. Crash-safe:
    * interrupted pruning just leaves garbage that the next prune
    * removes.
    */
  private def prune(spark: SparkSession, table: String, keep: Long): Unit = {
    val root = rootDir(spark, table)
    val fs = fsOf(spark, root)
    val cutoff = keep - 1 // retain keep and keep-1
    if (!fs.exists(root)) return
    val c = commitsPath(root)
    val retainedVersions: Seq[Long] =
      if (!fs.exists(c)) Seq.empty
      else fs.listStatus(c).toSeq
        .flatMap(st => versionOf(st.getPath.getName))
        .filter(_ >= cutoff)
    // Directory names still referenced by retained pointers (a crashed
    // finalization can leave a retained version under its staging name).
    val referenced: Set[String] = retainedVersions
      .flatMap(v => resolveDir(spark, table, v).map(_.getName)).toSet
    val now = System.currentTimeMillis()
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      val stale =
        if (n.startsWith("v"))
          versionOf(n.drop(1)).exists(v => v < cutoff && !referenced(n))
        else if (n.startsWith(".stage-"))
          !referenced(n) && !activeStages.contains(st.getPath.toString) &&
            now - st.getModificationTime > StageGraceMs
        else if (n.startsWith("._properties.") && n.endsWith(".tmp"))
          // A setProperties temp abandoned by a crash pre-rename.
          now - st.getModificationTime > StageGraceMs
        else false
      if (stale) fs.delete(st.getPath, true)
    }
    if (fs.exists(c)) fs.listStatus(c).foreach { st =>
      val n = st.getPath.getName
      if (versionOf(n).exists(_ < cutoff)) fs.delete(st.getPath, false)
      else if (n.startsWith(".") && n.endsWith(".tmp") &&
          now - st.getModificationTime > StageGraceMs)
        fs.delete(st.getPath, false) // lost-claim temp from a dead writer
    }
  }

  /** Table properties survive the catalog: the session catalog is
    * in-memory, so a new process re-registers the table from its
    * location ([[pointAt]]'s CREATE carries no user TBLPROPERTIES) and
    * a `delta.targetFileSize` declared by the pipeline would be lost —
    * OPTIMIZE would fall back to its 128 MiB default. Properties
    * therefore ALSO live in a `_properties` sidecar at the snapshot
    * ROOT (not inside a version directory — they describe the table's
    * lifetime, not one snapshot; prune never touches root-level
    * non-version entries, destroy removes the whole root, clone copies
    * it). Stored via `java.util.Properties` for key/value escaping.
    * Merge semantics match ALTER TABLE SET TBLPROPERTIES: new keys
    * overwrite, absent keys persist.
    */
  private def propsPath(spark: SparkSession, table: String) =
    new Path(rootDir(spark, table), "_properties")

  /** Record `props` (merged over existing) in the snapshot-root
    * sidecar. Creates the root if the table is not yet snapshot-managed
    * so declarations made before first adoption are not lost.
    *
    * The read-merge-write is serialized through the per-table JVM lock
    * and published like the pointer path: written to a temp file, then
    * atomically renamed OVER `_properties` (FileContext OVERWRITE
    * rename) — a crash mid-write leaves the previous sidecar intact,
    * never a truncated one, and two in-JVM writers cannot lose each
    * other's keys. Cross-PROCESS concurrent setProperties remains
    * last-writer-wins on the whole file (the same exposure a real
    * catalog's ALTER ... SET TBLPROPERTIES race has). */
  def setProperties(spark: SparkSession, table: String,
      props: Map[String, String]): Unit = if (props.nonEmpty) {
    val root = rootDir(spark, table)
    val lock = tableLocks.computeIfAbsent(root.toString, _ => new Object)
    lock.synchronized {
      val p = propsPath(spark, table)
      val fs = fsOf(spark, p)
      fs.mkdirs(root)
      val merged = new java.util.Properties()
      (properties(spark, table) ++ props).foreach {
        case (k, v) => merged.setProperty(k, v) }
      val tmp = new Path(root,
        s"._properties.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, true)
      try merged.store(out, null) finally out.close()
      org.apache.hadoop.fs.FileContext
        .getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Remove every sidecar property whose key matches `pred` — the
    * inverse surface setProperties lacks (needed by full-replace
    * commits, whose fresh content invalidates the schema-evolution
    * ledger). Same lock + atomic overwrite-rename as setProperties. */
  private[graft] def removeProperties(spark: SparkSession, table: String,
      pred: String => Boolean): Unit = {
    val root = rootDir(spark, table)
    val lock = tableLocks.computeIfAbsent(root.toString, _ => new Object)
    lock.synchronized {
      val current = properties(spark, table)
      val kept = current.filterNot { case (k, _) => pred(k) }
      if (kept.size == current.size) return
      val p = propsPath(spark, table)
      val fs = fsOf(spark, p)
      val merged = new java.util.Properties()
      kept.foreach { case (k, v) => merged.setProperty(k, v) }
      val tmp = new Path(root,
        s"._properties.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, true)
      try merged.store(out, null) finally out.close()
      org.apache.hadoop.fs.FileContext
        .getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Schema-evolution ledger key prefix: `graft.schema.v<changeVersion>`
    * = the table's column DDL effective FROM that change version
    * (`v0` = the pre-evolution schema, recorded by the first ALTER).
    * The ledger lives in the `_properties` sidecar — root-level, so it
    * survives prune/vacuum, clones copy it, and destroy removes it. */
  private[graft] val SchemaPropPrefix = "graft.schema.v"

  /** The schema-evolution ledger, ascending by change version; empty
    * for never-altered tables (the overwhelmingly common case — one
    * existence probe). Parsed entries are cached on the `_properties`
    * file's (mtime, length) so steady-state reads pay one
    * getFileStatus, not a parse. */
  private[graft] def schemaVersions(spark: SparkSession,
      table: String): Seq[(Long, org.apache.spark.sql.types.StructType)] = {
    val p = propsPath(spark, table)
    val fs = fsOf(spark, p)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return Seq.empty }
    schemaLedgerCache.get(p.toString) match {
      case (m, l, parsed) if m == st.getModificationTime &&
          l == st.getLen => parsed
      case _ =>
        val parsed = properties(spark, table).collect {
          case (k, ddl) if k.startsWith(SchemaPropPrefix) &&
              k.drop(SchemaPropPrefix.length).forall(_.isDigit) =>
            k.drop(SchemaPropPrefix.length).toLong ->
              org.apache.spark.sql.types.StructType.fromDDL(ddl)
        }.toSeq.sortBy(_._1)
        if (schemaLedgerCache.size > 256) schemaLedgerCache.clear()
        schemaLedgerCache.put(p.toString,
          (st.getModificationTime, st.getLen, parsed))
        parsed
    }
  }

  private val schemaLedgerCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Seq[(Long, org.apache.spark.sql.types.StructType)])]()

  /** The table's sidecar properties, empty if none recorded. */
  def properties(spark: SparkSession, table: String): Map[String, String] = {
    val p = propsPath(spark, table)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Map.empty
    else {
      val loaded = new java.util.Properties()
      val in = fs.open(p)
      try loaded.load(in) finally in.close()
      import scala.jdk.CollectionConverters._
      loaded.asScala.toMap
    }
  }

  /** Drop the table and delete every version — the clean-slate used when
    * a pipeline (re)builds from scratch. */
  def destroy(spark: SparkSession, table: String): Unit = {
    // A same-name temp view goes too: it would shadow the rebuilt table.
    spark.catalog.dropTempView(table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // The deletion-vector sidecar is a file of each version, found by
    // path and listed afresh by every read, so it dies with the root: a
    // rebuild that recreates the SAME v<N>/_dv paths cannot be served
    // the old run's listing.
    val root = rootDir(spark, table)
    StatsSkipping.invalidate(root) // rebuilt v<N> paths re-probe sidecars
    val fs = fsOf(spark, root)
    if (fs.exists(root)) fs.delete(root, true)
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... CLONE src`): publish the
    * source's CURRENT data files as the next version of `dst` — every
    * file carries ([[carry]]: a hard link on a local filesystem, zero
    * bytes copied; a copy elsewhere). The deletion-vector sidecar rides
    * INSIDE the version directory (`_dv/` — see DeletionVectors), so
    * its files carry too: DV coordinates key on data-file NAME, which
    * the carry preserves, and the clone's visible rows therefore equal
    * the source's at clone time; afterwards the two tables diverge
    * freely (deletes or commits on either side never touch the other —
    * snapshot isolation at the table level). The clone holds its own
    * directory entries, so its files survive a source VACUUM.
    */
  def clone(spark: SparkSession, src: String, dst: String): Path = {
    // Bounded rebase-retry: the carry below reads version v's files
    // while concurrent SOURCE writers may commit past it — prune
    // retains only (current, current-1), so TWO commits landing
    // mid-carry can delete v's directory under us. EVERYTHING from
    // version resolution to the carry runs inside the retried Try (a
    // prune landing between register and resolveDir must rebase too,
    // not escape); a failed carry aborts the commit (its staged dir is
    // discarded) and the retry re-resolves the NOW-current version, so
    // the published clone is always a version intact throughout its
    // carry.
    // Table-lifetime properties live in the ROOT _properties sidecar
    // (maintenance like Optimize.compact consults it) — a clone without
    // them would silently diverge in behavior. For a FRESH dst, copy
    // BEFORE the commit() that publishes the clone's version: a reader
    // or maintenance op that sees the registered clone must already see
    // its properties, and an aborted attempt leaves only a harmless
    // orphan sidecar (the root sidecar is independent of version
    // directories). When dst ALREADY has a _properties sidecar (clone
    // publishing the next version of an existing table), the pre-copy
    // is NOT safe: a clone that exhausts its rebase retries and throws
    // would leave the old dst data permanently running under the
    // source's properties. There the copy happens after the successful
    // commit instead — the transient properties-lag window only ever
    // spans the new version's publish, never a failure.
    val srcProps = new Path(rootDir(spark, src), "_properties")
    val dstProps = new Path(rootDir(spark, dst), "_properties")
    val pfs = fsOf(spark, srcProps)
    val dfs = fsOf(spark, dstProps)
    def copyProps(): Unit =
      if (pfs.exists(srcProps))
        org.apache.hadoop.fs.FileUtil.copy(pfs, srcProps, dfs, dstProps,
          false, true, spark.sparkContext.hadoopConfiguration)
    // TABLE FRESHNESS (no published version), not sidecar existence,
    // keys the pre-copy: an EXISTING destination that merely has no
    // properties set must not take the fresh-dst path — a clone that
    // then exhausted its rebase retries and threw would leave the old
    // dst data permanently running under the SOURCE's properties, the
    // very hazard the post-commit ordering below exists to prevent.
    val dstFresh = register(spark, dst).isEmpty
    // Rollback state for the fresh path: a version-less root can still
    // carry properties declared before first adoption (setProperties
    // documents that), and even a plain orphan sidecar left by a failed
    // clone would be silently inherited by a later unrelated commit
    // that creates dst as a brand-new table — a failed clone restores
    // the prior sidecar (or removes the one it created).
    val priorProps: Option[Array[Byte]] =
      if (!dstFresh || !dfs.exists(dstProps)) None
      else {
        val in = dfs.open(dstProps)
        try Some(in.readAllBytes()) finally in.close()
      }
    val preCopied = dstFresh && pfs.exists(srcProps)
    if (preCopied) copyProps()
    def rollbackProps(): Unit = if (preCopied) scala.util.Try {
      priorProps match {
        case None => dfs.delete(dstProps, false)
        case Some(bytes) =>
          val out = dfs.create(dstProps, true)
          try out.write(bytes) finally out.close()
      }
    }.failed.foreach(e => System.err.println(
      s"[snapshot] failed clone could not restore $dst properties: $e"))
    var attempts = 3
    var lastErr: Throwable = null
    while (attempts > 0) {
      attempts -= 1
      scala.util.Try {
        val v = register(spark, src).getOrElse(
          sys.error(s"clone source $src has no published version"))
        val srcDir = resolveDir(spark, src, v).getOrElse(
          sys.error(s"clone source $src v$v has no directory"))
        val files = listData(spark, srcDir)
        val fs = fsOf(spark, srcDir)
        val dv = new Path(srcDir, "_dv")
        val dvFiles: Seq[Path] =
          if (!fs.exists(dv)) Seq.empty
          else fs.listStatus(dv).toSeq.filter(_.isFile).map(_.getPath)
            .filterNot(_.getName.startsWith("."))
        failpoint("clone") // resolved, not yet carried — the race window
        // commit()'s won-claim tail already registers dst — no extra
        // register here (inside the retry a transient post-publish
        // failure would re-carry and publish a duplicate version).
        commit(spark, dst) { stage =>
          val stageP = new Path(stage)
          // Always create the stage dir: a legitimately EMPTY source
          // publishes an empty version; without this, zero carries
          // would claim a pointer to a never-created directory.
          fsOf(spark, stageP).mkdirs(stageP)
          files.foreach(p => carry(spark, p, new Path(stageP, p.getName)))
          dvFiles.foreach { p =>
            carry(spark, p, new Path(new Path(stageP, "_dv"), p.getName))
          }
          // The skipping sidecar travels with its files (same
          // basenames, unchanged bytes): a clone of a stats-bearing
          // table keeps pruning without a rebuild.
          StatsSkipping.refreshStats(spark, srcDir, stageP)
          // The carried listing must still be the live one: a prune
          // landing mid-carry leaves SOME files carried and the rest
          // gone — fail the attempt rather than publish a partial clone.
          if (!fs.exists(srcDir))
            sys.error(s"clone source $src v$v pruned mid-carry")
        }
      } match {
        case scala.util.Success(p) =>
          // Existing-dst case: adopt the source's table-lifetime
          // properties only once the cloned version has PUBLISHED (see
          // the pre-copy comment above for why not earlier).
          if (!dstFresh) copyProps()
          return p
        case scala.util.Failure(e) =>
          lastErr = e
          System.err.println(
            s"[snapshot] clone of $src interrupted, rebasing: $e")
      }
    }
    rollbackProps()
    throw lastErr
  }

  /** Carry every data file of version directory `from` into staged
    * directory `to`, names preserved ([[carry]]); `except` filters by
    * basename. ONE copy of the listData-then-carry loop —
    * DeletionVectors' lifecycle commits and SnapshotSink's per-batch
    * appends both route here, so carry-semantics fixes cannot silently
    * miss a caller.
    */
  private[graft] def carryData(spark: SparkSession, from: Path, to: Path,
      except: Set[String] = Set.empty): Unit =
    listData(spark, from).foreach { p =>
      if (!except.contains(p.getName)) carry(spark, p, new Path(to, p.getName))
    }

  /** Carry the stream-progress marker ([[graft.streaming.SnapshotSink]]'s
    * `_batchid`) from `from` into staged `to`, if present. EVERY
    * version-producing path except clone calls this: maintenance
    * (compact/zorder), DV lifecycle commits and sink appends must not
    * shed the marker, or a crash-replay after maintenance would
    * re-append an already-committed batch — the exactly-once hole.
    * Clone deliberately does NOT carry it (a clone is a new table under
    * a different checkpoint's numbering — the same reason Delta clones
    * drop streaming transaction ids).
    */
  private[graft] def carryBatchId(spark: SparkSession, from: Path,
      to: Path): Unit = {
    val src = new Path(from, "_batchid")
    val fs = fsOf(spark, src)
    if (fs.exists(src))
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fsOf(spark, to),
        new Path(to, "_batchid"), false, true,
        spark.sparkContext.hadoopConfiguration)
  }

  /** Carry an unchanged file into a staged snapshot WITHOUT disturbing
    * the live version: hard link on a `file:` filesystem (a directory
    * entry, no IO), copy on any other; never a rename — the source must
    * stay readable until the new version is published.
    */
  def carry(spark: SparkSession, src: Path, dst: Path): Unit = {
    val fs = fsOf(spark, dst)
    if (dst.getParent != null) fs.mkdirs(dst.getParent)
    val linked = fs.getScheme == "file" &&
      (try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        true
      } catch { case e: Throwable =>
        System.err.println(s"[snapshot] link $src -> $dst failed: $e"); false })
    if (!linked)
      org.apache.hadoop.fs.FileUtil.copy(
        fsOf(spark, src), src, fs, dst, false,
        spark.sparkContext.hadoopConfiguration)
  }
}
