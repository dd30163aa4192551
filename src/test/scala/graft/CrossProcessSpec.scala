package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import graft.storage.SnapshotCommit

/** CROSS-PROCESS multi-writer arbitration — the one concurrency surface
  * the in-JVM rendezvous specs cannot reach. Everything those tests
  * lean on implicitly (the per-table JVM lock serializing
  * resolve-and-claim, the shared relation cache, the memoized register
  * state) does not exist between two separate JVMs; what remains is
  * exactly the [[graft.storage.CommitLock]] contract. This spec spawns
  * two REAL java processes ([[CrossProcessCommitter]]), releases them
  * into their commit loops together through a file barrier, and checks
  * the ground truth afterwards from a third (this) JVM: every row from
  * both writers present (no lost update in either direction), and the
  * version chain exactly 2n long (every commit serialized, none
  * skipped or doubled).
  *
  * Runs under [[graft.storage.FileLockCommitLock]] installed via
  * `spark.graft.commit.lock` — the lock-service path a rename-less
  * object store would deploy, here doing its real job: mutual exclusion
  * between processes that share nothing but the filesystem.
  */
class CrossProcessSpec extends SparkSpec {

  /** Spark-on-JDK17 module opens for the child JVMs (same set
    * build.sbt passes to forked test/run JVMs). */
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Start `main` in a child JVM on this classpath and 2 cores (its
    * session comes from the same factory as this suite's), stdout and
    * stderr captured in `log`. */
  private def spawn(log: java.nio.file.Path, main: String,
      args: String*): Process = {
    val pb = new ProcessBuilder((Seq(
      System.getProperty("java.home") + "/bin/java") ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", System.getProperty("java.class.path"), main) ++
      args): _*)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.redirectErrorStream(true)
    pb.redirectOutput(log.toFile)
    pb.start()
  }

  private def raceTwoProcesses(tbl: String,
      mode: String = "append"): Unit = {
    if (mode == "append") SnapshotCommit.destroy(spark, tbl)
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val barrier =
      SparkSpec.tempDir("graft_xproc_barrier").toString
    val n = 4
    val lock = "graft.storage.FileLockCommitLock"
    def launch(id: String): Process =
      spawn(Paths.get(barrier, s"out-$id"), "graft.CrossProcessCommitter",
        warehouse, tbl, id, n.toString, barrier, lock, mode)
    val a = launch("A")
    val b = launch("B")
    // On any launch/race failure, surface the children's captured output —
    // without it a timeout on a loaded box is undiagnosable.
    def childLogs(): String = Seq("A", "B").map { id =>
      val p = Paths.get(barrier, s"out-$id")
      val txt = if (Files.exists(p)) Files.readString(p) else "<no output>"
      s"--- out-$id (tail) ---\n${txt.takeRight(2000)}"
    }.mkString("\n")
    try {
      // Hold both at the barrier until BOTH sessions are up, then
      // release together — otherwise JVM startup skew serializes the
      // writers and the race never happens. Generous deadline: this box
      // has multi-minute external slow windows that can stretch a ~15s
      // JVM+session startup several-fold.
      val deadline = System.currentTimeMillis() + 300000
      while (!(Files.exists(Paths.get(barrier, "ready-A")) &&
               Files.exists(Paths.get(barrier, "ready-B")))) {
        assert(System.currentTimeMillis() < deadline,
          s"children did not reach the barrier within 300s\n${childLogs()}")
        assert(a.isAlive || a.exitValue() == 0,
          s"writer A died pre-barrier\n${childLogs()}")
        assert(b.isAlive || b.exitValue() == 0,
          s"writer B died pre-barrier\n${childLogs()}")
        Thread.sleep(100)
      }
      Files.writeString(Paths.get(barrier, "go"), "")
      assert(a.waitFor(300, TimeUnit.SECONDS),
        s"writer A timed out\n${childLogs()}")
      assert(b.waitFor(300, TimeUnit.SECONDS),
        s"writer B timed out\n${childLogs()}")
      assert(a.exitValue() === 0,
        s"writer A exited ${a.exitValue()}\n${childLogs()}")
      assert(b.exitValue() === 0,
        s"writer B exited ${b.exitValue()}\n${childLogs()}")
    } finally {
      a.destroyForcibly(); b.destroyForcibly(); ()
    }
    // Ground truth read from THIS (third) JVM: register replays any
    // tail work, then the committed state must hold every (writer, seq)
    // from both processes exactly once.
    SnapshotCommit.register(spark, tbl)
    if (mode == "dv") {
      // 2n interleaved deletes over a seeded v1: every writer's
      // residue class gone, everything else alive, delete versions
      // and snapshot versions both exactly serialized.
      import org.apache.spark.sql.functions.col
      val live = graft.storage.DeletionVectors.read(spark, tbl)
      assert(live.count() === 1000L - 2 * n * 50)
      val deadResidues = (0 until n) ++ (10 until 10 + n)
      deadResidues.foreach(r =>
        assert(live.filter(col("id") % 20 === r).count() === 0,
          s"residue $r survived a committed delete — lost DV update"))
      assert(graft.storage.DeletionVectors.version(spark, tbl) === 2L * n)
      assert(SnapshotCommit.currentVersion(spark, tbl) === Some(2L * n + 1))
    } else if (mode == "merge") {
      // Both writers' disjoint upsert ranges AND the seed must all
      // land exactly once: a missing range is the whole-table lost
      // update a pre-derived merge replay would cause.
      val rows = spark.table(tbl).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val expected =
        (0L until 10L).map(id => (id, "seed")).toSet ++
          (for (w <- Seq("A", "B"); i <- 1 to n; k <- 0 until 5)
            yield ((if (w == "A") 1000L else 2000L) + (i - 1) * 5 + k,
              w)).toSet
      assert(rows === expected,
        s"lost/duplicated merge: ${expected.diff(rows)} missing, " +
          s"${rows.diff(expected)} unexpected")
      // seed v1 + one version per successful MERGE, exactly.
      assert(SnapshotCommit.currentVersion(spark, tbl) === Some(2L * n + 1))
    } else {
      val rows = spark.table(tbl).collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
      val expected =
        (for (w <- Seq("A", "B"); i <- 1 to n) yield (w, i)).toSet
      assert(rows === expected,
        s"lost/duplicated update: ${expected.diff(rows)} missing, " +
          s"${rows.diff(expected)} unexpected")
      // 2n commits serialized with no gaps: version chain length is the
      // writers' combined commit count.
      assert(SnapshotCommit.currentVersion(spark, tbl) === Some(2L * n))
    }
    // The conflict actually happened: the first-commit stage rendezvous
    // forces both writers to stage against the same base, so the loser
    // restaged at least once — total staged events must exceed the 2n
    // that a contention-free run would record.
    val stagedTotal = Seq("A", "B").map(id =>
      Files.readString(Paths.get(barrier, s"staged-count-$id")).trim.toInt)
      .sum
    assert(stagedTotal >= 2 * n + 1,
      s"writers never actually conflicted (staged $stagedTotal times)")
  }

  test("two JVM processes race commits on one table: no lost update, " +
      "version chain exactly serialized") {
    raceTwoProcesses("xproc_commit_tbl")
  }

  test("two JVM processes race deletion-vector deletes: every residue " +
      "class lands, stamps and versions serialize") {
    val tbl = "xproc_dv_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    SnapshotCommit.destroy(spark, tbl)
    // Seed v1: 1000 rows in two files, adopted into snapshot form so
    // both children's first delete races against the same real version.
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 1000).toDF("id").repartition(2).write.parquet(dir)
    }
    raceTwoProcesses(tbl, mode = "dv")
  }

  test("two JVM processes race SQL MERGEs: both writers' upserts land — " +
      "no whole-table lost update") {
    val tbl = "xproc_merge_tbl"
    SnapshotCommit.destroy(spark, tbl)
    // Seed v1 so both children's first MERGE stages against the same
    // real version (the forced-conflict rendezvous needs a shared base).
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 10).selectExpr("id", "'seed' as writer")
        .coalesce(1).write.parquet(dir)
    }
    raceTwoProcesses(tbl, mode = "merge")
  }

  test("kill -9 of a writer with fully staged work: table stays readable, " +
      "the next writer commits over the corpse") {
    val tbl = "xproc_kill_tbl"
    SnapshotCommit.destroy(spark, tbl)
    // Seed v1 from this JVM so the victim's staged work is a real
    // version-2 candidate, not a first load.
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 3).selectExpr("'seed' as writer", "cast(id as int) as seq")
        .coalesce(1).write.parquet(dir)
    }
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val barrier = SparkSpec.tempDir("graft_xproc_kill").toString
    // One child, n=1: it stages, drops its staged-A marker, then blocks
    // waiting for a peer that never comes — a process frozen at the
    // most dangerous instant (work fully staged, claim not yet made).
    val victim = spawn(Paths.get(barrier, "out-A"),
      "graft.CrossProcessCommitter", warehouse, tbl, "A", "1", barrier,
      "graft.storage.FileLockCommitLock", "append")
    try {
      Files.writeString(Paths.get(barrier, "ready-B"), "") // fake peer ready
      val deadline = System.currentTimeMillis() + 300000
      def victimLog(): String = {
        val p = Paths.get(barrier, "out-A")
        if (Files.exists(p)) Files.readString(p).takeRight(2000)
        else "<no output>"
      }
      while (!Files.exists(Paths.get(barrier, "ready-A"))) {
        assert(System.currentTimeMillis() < deadline,
          s"victim never started\n${victimLog()}")
        if (!victim.isAlive)
          fail(s"victim died before the barrier (exit " +
            s"${victim.exitValue()})\n${victimLog()}")
        Thread.sleep(100)
      }
      Files.writeString(Paths.get(barrier, "go"), "")
      while (!Files.exists(Paths.get(barrier, "staged-A"))) {
        assert(System.currentTimeMillis() < deadline, "victim never staged")
        assert(victim.isAlive, "victim died before staging")
        Thread.sleep(100)
      }
      // SIGKILL: no shutdown hooks, no finally blocks — the staged
      // directory and any lock-file state are simply abandoned.
      victim.destroyForcibly()
      victim.waitFor(30, TimeUnit.SECONDS)
    } finally { victim.destroyForcibly(); () }
    // The corpse's staging directory must be invisible to readers...
    SnapshotCommit.register(spark, tbl)
    assert(SnapshotCommit.currentVersion(spark, tbl) === Some(1L),
      "a never-claimed stage must not surface as a version")
    assert(spark.table(tbl).count() === 3)
    // ...and must not block the next writer (in particular, the OS file
    // lock died with the process — FileLock is not a lease).
    spark.conf.set("spark.graft.commit.lock",
      "graft.storage.FileLockCommitLock")
    try SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 1).selectExpr("'B' as writer", "99 as seq")
        .coalesce(1).write.parquet(dir)
      val d = new org.apache.hadoop.fs.Path(dir)
      SnapshotCommit.dataFiles(spark, tbl).zipWithIndex.foreach {
        case ((nm, p), k) =>
          SnapshotCommit.carry(spark, p,
            new org.apache.hadoop.fs.Path(d, s"c$k-$nm"))
      }
    } finally spark.conf.unset("spark.graft.commit.lock")
    assert(SnapshotCommit.currentVersion(spark, tbl) === Some(2L))
    assert(spark.table(tbl).count() === 4)
  }

  /** VERDICT r12 task 4 — the deployment-real clone-vs-prune race.
    * `SnapshotCommit.clone`'s rebase-retry was pinned in-JVM with a
    * deterministic failpoint; here the SAME failpoint choreographs TWO
    * separate JVMs: process A parks its clone after resolving version v
    * (files listed, nothing carried), process B then commits the source
    * 3 more times — each commit prunes everything older than
    * (current, current-1), so v's directory is physically deleted under
    * the parked cloner — and only then is A released. Attempt 1's carry
    * must die on the pruned directory; the bounded retry must re-resolve
    * the now-current version and publish. Ground truth from THIS (third)
    * JVM: the clone's rows are EXACTLY the source's final rows, every
    * clone data file physically exists (live version, nothing pruned
    * out from under it), and the cloner really did rebase (attempts >=
    * 2). Run 3x consecutively like the DV-race cases — the schedule is
    * failpoint-forced, so each round re-proves determinism, not luck.
    */
  test("cross-process clone races source commits+prune: clone rebases " +
      "onto a live version with exact row content (3x)") {
    for (round <- 1 to 3) {
      val src = s"xproc_clone_src$round"
      val dst = s"${src}_clone"
      SnapshotCommit.destroy(spark, src)
      SnapshotCommit.destroy(spark, dst)
      SnapshotCommit.commit(spark, src) { dir =>
        spark.range(0, 100)
          .selectExpr("'seed' as writer", "cast(id as int) as seq")
          .coalesce(1).write.parquet(dir)
      }
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      val barrier =
        SparkSpec.tempDir(s"graft_xproc_clone$round").toString
      def launch(id: String, mode: String, n: Int): Process =
        spawn(Paths.get(barrier, s"out-$id"), "graft.CrossProcessCommitter",
          warehouse, src, id, n.toString, barrier,
          "graft.storage.FileLockCommitLock", mode)
      val cloner = launch("A", "clone", 1)
      val churner = launch("B", "churn", 3)
      def childLogs(): String = Seq("A", "B").map { id =>
        val p = Paths.get(barrier, s"out-$id")
        val txt = if (Files.exists(p)) Files.readString(p) else "<no output>"
        s"--- out-$id (tail) ---\n${txt.takeRight(2000)}"
      }.mkString("\n")
      try {
        val deadline = System.currentTimeMillis() + 300000
        while (!(Files.exists(Paths.get(barrier, "ready-A")) &&
                 Files.exists(Paths.get(barrier, "ready-B")))) {
          assert(System.currentTimeMillis() < deadline,
            s"children did not reach the barrier within 300s\n${childLogs()}")
          // Any pre-barrier exit is a failure — even status 0 (a child
          // that returned early without writing its ready file would
          // otherwise burn the full 300s and die as a misleading
          // barrier timeout). Clue strings evaluate eagerly, so status
          // must never call exitValue() on a live process.
          def status(p: Process): String =
            if (p.isAlive) "alive" else s"exited ${p.exitValue()}"
          assert(cloner.isAlive ||
            Files.exists(Paths.get(barrier, "ready-A")),
            s"cloner exited pre-barrier (${status(cloner)})\n${childLogs()}")
          assert(churner.isAlive ||
            Files.exists(Paths.get(barrier, "ready-B")),
            s"churner exited pre-barrier (${status(churner)})\n${childLogs()}")
          Thread.sleep(100)
        }
        Files.writeString(Paths.get(barrier, "go"), "")
        assert(cloner.waitFor(300, TimeUnit.SECONDS),
          s"cloner timed out\n${childLogs()}")
        assert(churner.waitFor(300, TimeUnit.SECONDS),
          s"churner timed out\n${childLogs()}")
        assert(cloner.exitValue() === 0,
          s"cloner exited ${cloner.exitValue()}\n${childLogs()}")
        assert(churner.exitValue() === 0,
          s"churner exited ${churner.exitValue()}\n${childLogs()}")
      } finally {
        cloner.destroyForcibly(); churner.destroyForcibly(); ()
      }
      // The race really ran: attempt 1 parked-then-died, attempt 2+
      // published (1 attempt would mean the prune never bit).
      val attempts = Files.readString(
        Paths.get(barrier, "clone-attempts-A")).trim.toInt
      assert(attempts >= 2,
        s"round $round: clone published on attempt 1 — the pruned " +
          s"version was still carryable, race not exercised\n${childLogs()}")
      // Ground truth: exact content parity with the source's FINAL
      // state (seed + 3 churn rows), on a fully live version.
      SnapshotCommit.register(spark, src)
      SnapshotCommit.register(spark, dst)
      def rowSet(t: String) = spark.table(t).collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
      val srcRows = rowSet(src)
      assert(srcRows.size === 103, s"round $round: churn incomplete")
      assert(rowSet(dst) === srcRows,
        s"round $round: clone content diverges from source final state")
      val cur = SnapshotCommit.currentLocation(spark, dst).get
      val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
      SnapshotCommit.listData(spark, cur).foreach { p =>
        assert(fs.exists(p),
          s"round $round: clone file $p does not exist — " +
            "clone landed on a dead version")
      }
    }
  }

  /** The Auto Loader crash-restart story: process A runs a checkpointed
    * CSV → parquet streaming query (maxFilesPerTrigger=1 so the backlog
    * is a sequence of committed micro-batches) and is SIGKILL'd after
    * its first batch commits but long before the backlog drains —
    * mid-batch, with possibly-written-but-uncommitted sink files and an
    * offset log ahead of the commit log. Process B restarts the SAME
    * checkpoint cold and must drain the rest exactly once. Ground truth
    * read from THIS (third) JVM through the sink's _spark_metadata
    * commit log — the read path that hides the corpse's orphans.
    * `rowsFor(f)` supplies file f's (id, payload) rows; `expectedIds` is
    * the exact multiset-free id set the final output must equal.
    */
  private def streamRestartCase(mode: String, nFiles: Int,
      rowsFor: Int => Seq[Long], expectedIds: Set[Long]): Unit = {
    // The kill must land while the backlog is still undrained or there
    // is nothing for the restarter to recover. That is a RACE against
    // the victim's own progress (a loaded box can delay the parent's
    // poll past the drain), so an attempt whose victim finished before
    // the SIGKILL resolved is discarded and re-run — up to 3 tries —
    // rather than failing spuriously; the ~0.5 s/batch drag makes an
    // early drain rare in the first place.
    val attempts = 3
    val raced = (1 to attempts).exists { a =>
      val ok = streamRestartAttempt(mode, nFiles, rowsFor, expectedIds)
      if (!ok) info(s"attempt $a: victim drained before the kill — retrying")
      ok
    }
    assert(raced, s"victim drained the backlog before the kill in all " +
      s"$attempts attempts; widen the drag or add files")
  }

  /** One kill-restart cycle. Returns false (attempt void, retry) iff the
    * victim finished the whole backlog before the SIGKILL landed; all
    * correctness assertions throw as usual. */
  private def streamRestartAttempt(mode: String, nFiles: Int,
      rowsFor: Int => Seq[Long], expectedIds: Set[Long]): Boolean = {
    val base = SparkSpec.tempDir(s"graft_xproc_stream_$mode")
    val data = base.resolve("data"); Files.createDirectories(data)
    val ckpt = base.resolve("ckpt").toString
    val out = base.resolve("out").toString
    val barrier = base.resolve("barrier").toString
    // graft-table mode streams a SNAPSHOT table instead of a CSV dir:
    // each rowsFor(f) becomes one exactly-once SnapshotSink version
    // (one file each), built here in the parent against the SHARED
    // warehouse; the child receives "warehouse::table" as its source.
    val dataArg = if (mode == "graft-table") {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val tbl = s"xproc_gts_src_${java.util.UUID.randomUUID().toString.take(8)}"
      graft.storage.SnapshotCommit.destroy(spark, tbl)
      for (f <- 0 until nFiles) {
        import spark.implicits._
        val batch = rowsFor(f).toDF("id")
          .select(col("id"), concat(lit("p"), col("id")).as("payload"))
          .coalesce(1)
        assert(graft.streaming.SnapshotSink.append(spark, tbl, f.toLong, batch))
      }
      s"${spark.conf.get("spark.sql.warehouse.dir")}::$tbl"
    } else {
      for (f <- 0 until nFiles) {
        val rows = rowsFor(f).map(id => s"$id,p$id")
        Files.writeString(data.resolve(f"file$f%02d.csv"),
          "id,payload\n" + rows.mkString("\n") + "\n")
      }
      data.toString
    }
    def launch(id: String): Process =
      spawn(Paths.get(barrier, s"out-$id"), "graft.CrossProcessStreamer",
        dataArg, ckpt, out, barrier, id, mode)
    def log(id: String): String = {
      val p = Paths.get(barrier, s"out-$id")
      if (Files.exists(p)) Files.readString(p).takeRight(2000)
      else "<no output>"
    }
    val deadline = System.currentTimeMillis() + 300000
    Files.createDirectories(Paths.get(barrier))
    val victim = launch("A")
    try {
      while (!Files.exists(Paths.get(barrier, "ready-A"))) {
        assert(System.currentTimeMillis() < deadline,
          s"victim never became ready\n${log("A")}")
        assert(victim.isAlive, s"victim died pre-barrier\n${log("A")}")
        Thread.sleep(100)
      }
      Files.writeString(Paths.get(barrier, "go"), "")
      // Wait for the FIRST committed batch, then SIGKILL immediately —
      // with ~0.5s per batch and 8 batches the kill lands inside the
      // stream, typically mid-batch-1/2. No shutdown hooks run.
      while (!Files.exists(Paths.get(barrier, "progress-A-0"))) {
        assert(System.currentTimeMillis() < deadline,
          s"victim never committed a batch\n${log("A")}")
        assert(victim.isAlive, s"victim died before batch 0\n${log("A")}")
        Thread.sleep(20)
      }
      victim.destroyForcibly()
      victim.waitFor(30, TimeUnit.SECONDS)
      // Sampled AFTER the kill resolved: if done-A exists now, the
      // victim won the race and this attempt proves nothing — void it.
      if (Files.exists(Paths.get(barrier, "done-A"))) return false
      // Restart on the same checkpoint from a SECOND fresh JVM.
      val restarter = launch("B")
      try {
        Files.writeString(Paths.get(barrier, "go"), "") // already present
        assert(restarter.waitFor(300, TimeUnit.SECONDS),
          s"restarter timed out\n${log("B")}")
        assert(restarter.exitValue() === 0,
          s"restarter exited ${restarter.exitValue()}\n${log("B")}")
      } finally { restarter.destroyForcibly(); () }
    } finally { victim.destroyForcibly(); () }
    // Exactly-once: every expected id exactly once, read through
    // _spark_metadata.
    val ids = spark.read.parquet(out).select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.length === expectedIds.size,
      s"row count ${ids.length} != ${expectedIds.size} — " +
        (if (ids.length > expectedIds.size) "duplicated rows across the restart"
         else "lost rows across the restart"))
    assert(ids.toSet === expectedIds, "id set drifted across the restart")
    // The recovery genuinely spanned processes: B must have committed at
    // least one batch (the backlog was not drained pre-kill).
    val bProgress = Files.list(Paths.get(barrier)).iterator()
    var bBatches = 0
    while (bProgress.hasNext) {
      if (bProgress.next().getFileName.toString.startsWith("progress-B-"))
        bBatches += 1
    }
    assert(bBatches >= 1, "restarter committed no batches — nothing raced")
    true
  }

  test("SIGKILL'd mid-stream, restarted from another JVM on the same " +
      "checkpoint: exactly-once output, no duplicate, no loss") {
    val nFiles = 8; val rowsPerFile = 500
    streamRestartCase("ingest", nFiles,
      f => (0 until rowsPerFile).map(i => (f * rowsPerFile + i).toLong),
      (0L until (nFiles * rowsPerFile).toLong).toSet)
  }

  test("stateful dedup under RocksDB across the SIGKILL restart: the " +
      "restarted JVM recovers the victim's state, duplicates stay dead") {
    // Every id arrives TWICE — file f carries 250 fresh ids plus the 250
    // ids file f-1 introduced — so micro-batch k's duplicates arrive in
    // batch k+1, and the ids deduped BEFORE the kill recur AFTER it.
    // Correct output now requires more than offset/sink-log replay: the
    // restarted JVM must load the victim's RocksDB state store from the
    // checkpoint (dropDuplicates state). A surviving duplicate = state
    // lost; a missing id = batch dropped. This is the reference's
    // bronze/silver streaming dedup under its crash-restart contract, on
    // the provider a 100 TB deployment runs.
    val nFiles = 8; val fresh = 250
    streamRestartCase("dedup-rocksdb", nFiles,
      f => {
        val mine = (0 until fresh).map(i => (f * fresh + i).toLong)
        val dupsOfPrev =
          if (f == 0) Seq.empty[Long]
          else (0 until fresh).map(i => ((f - 1) * fresh + i).toLong)
        mine ++ dupsOfPrev
      },
      (0L until (nFiles * fresh).toLong).toSet)
  }

  test("graft-table source across the SIGKILL restart: the restarted " +
      "JVM resumes the chunked snapshot from the checkpoint manifests, " +
      "exactly once") {
    // The readStream.table crash-restart contract on REAL JVMs: the
    // victim tails a SnapshotSink-built table (8 versions, one file
    // each) with maxFilesPerTrigger=1 — the chunked-initial-snapshot
    // path — and is SIGKILL'd mid-drain; the restarter must resume
    // MID-DIFF from the checkpoint's composite offsets + the source's
    // durable per-version manifests (the version directories retain
    // only current/previous — history is unreachable without them) and
    // drain the rest exactly once into the parquet sink's commit log.
    val nFiles = 8; val rowsPerFile = 500
    streamRestartCase("graft-table", nFiles,
      f => (0 until rowsPerFile).map(i => (f * rowsPerFile + i).toLong),
      (0L until (nFiles * rowsPerFile).toLong).toSet)
  }
}
