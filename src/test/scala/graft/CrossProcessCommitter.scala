package graft

/** Child-process half of the CROSS-PROCESS commit race
  * (PipelineSpec "two separate JVM processes..."): a standalone main so
  * the test can spawn real second/third JVMs — separate
  * `tableLocks`, separate relation caches, separate catalogs — and
  * prove [[graft.storage.SnapshotCommit]]'s claim arbitration holds
  * where the in-JVM monitor cannot reach. Everything in-process tests
  * share (the per-table lock object, the memoized register state) is
  * absent between two JVMs by construction, so the only thing
  * serializing the writers is the [[graft.storage.CommitLock]] under
  * test.
  *
  * Protocol: args = warehouse dir, table, writer id, commit count,
  * barrier dir, lock class, mode. The process builds its own local session
  * against the SHARED warehouse, drops `ready-<id>` into the barrier
  * dir, spins until `go` appears (so both writers enter their commit
  * loops together instead of serializing behind JVM startup), then
  * runs `n` append-one-row commits, each deriving from the CURRENT
  * committed state inside the write closure (the rebase contract — a
  * lost claim re-invokes it against the winner's version). Exits 0
  * only if every commit landed.
  */
object CrossProcessCommitter {
  def main(args: Array[String]): Unit = {
    // mode: "append" (default) = one new row per commit, files carried;
    // "dv" = one DeletionVectors.delete per commit (writer A deletes
    // id%20 residues 0..n-1, writer B residues 10..10+n-1), exercising
    // the DV closure's own derive logic (version stamps, sidecar
    // union, data-file links) under real cross-process interleaving.
    val Array(warehouse, table, writerId, nStr, barrierDir, lockClass,
      mode) = args
    val n = nStr.toInt
    val spark = graft.core.Session.local(warehouse = Some(warehouse),
      confs = Seq("spark.graft.commit.lock" -> lockClass))
    spark.sparkContext.setLogLevel("ERROR")
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(barrierDir))
    Files.writeString(Paths.get(barrierDir, s"ready-$writerId"), "")
    val deadline = System.currentTimeMillis() + 300000
    while (!Files.exists(Paths.get(barrierDir, "go"))) {
      if (System.currentTimeMillis() > deadline)
        sys.error("barrier: no go signal within 300s")
      Thread.sleep(50)
    }
    val peer = if (writerId == "A") "B" else "A"
    import org.apache.spark.sql.functions._
    val sc = graft.storage.SnapshotCommit
    if (mode == "clone") {
      // Cloner half of the DEPLOYMENT-REAL clone-vs-prune race
      // (CrossProcessSpec "cross-process clone races source churn"):
      // the "clone" failpoint fires once per attempt, after version
      // resolution + file listing but before any carry. On the FIRST
      // attempt we park there, signal the churn writer, and wait until
      // it has committed past our resolved version ENOUGH times that
      // prune (retains current, current-1) has deleted it — so attempt
      // 1's carry MUST die on the pruned directory and the bounded
      // rebase-retry must re-resolve the now-current version. Attempt
      // count is written out for the spec to assert the race really
      // happened (>= 2 means the rebase path ran).
      var attempts = 0
      sc.failpoint = s => if (s == "clone") {
        attempts += 1
        if (attempts == 1) {
          Files.writeString(Paths.get(barrierDir, s"resolved-$writerId"), "")
          val d2 = System.currentTimeMillis() + 240000
          while (!Files.exists(Paths.get(barrierDir, "churn-done"))) {
            if (System.currentTimeMillis() > d2)
              sys.error("clone rendezvous: churn writer never finished")
            Thread.sleep(20)
          }
        }
      }
      sc.clone(spark, table, s"${table}_clone")
      Files.writeString(Paths.get(barrierDir, s"clone-attempts-$writerId"),
        attempts.toString)
      spark.stop()
      return
    }
    if (mode == "churn") {
      // Churn half: wait for the cloner to park on its resolved
      // version, then advance the source n times — each commit carries
      // the current files and prunes everything older than (v, v-1),
      // so n >= 3 guarantees the cloner's version directory is GONE
      // before churn-done releases it.
      val d2 = System.currentTimeMillis() + 240000
      while (!Files.exists(Paths.get(barrierDir, s"resolved-$peer"))) {
        if (System.currentTimeMillis() > d2)
          sys.error("churn rendezvous: cloner never resolved")
        Thread.sleep(20)
      }
      for (i <- 1 to n) {
        sc.commit(spark, table, maxAttempts = 50) { dir =>
          val existing = sc.dataFiles(spark, table)
          spark.range(1, 2)
            .select(lit(writerId).as("writer"), lit(i).as("seq"))
            .coalesce(1).write.parquet(dir)
          val d = new org.apache.hadoop.fs.Path(dir)
          existing.zipWithIndex.foreach { case ((nm, p), k) =>
            sc.carry(spark, p, new org.apache.hadoop.fs.Path(d, s"c$k-$nm"))
          }
        }
      }
      Files.writeString(Paths.get(barrierDir, "churn-done"), "")
      spark.stop()
      return
    }
    // FORCE a cross-process conflict instead of hoping scheduling
    // provides one: on each writer's FIRST staged snapshot (failpoint
    // fires after staging, before the claim), drop a marker and wait
    // for the peer's — both writers then hold fully staged work derived
    // from the SAME base version, so exactly one must lose the claim
    // and rebase. The total staged-event count across both processes
    // (written below for the spec to assert on) is therefore >= 2n+1.
    var stagedCount = 0
    graft.storage.SnapshotCommit.failpoint = s => if (s == "staged") {
      stagedCount += 1
      if (stagedCount == 1) {
        Files.writeString(Paths.get(barrierDir, s"staged-$writerId"), "")
        val d2 = System.currentTimeMillis() + 240000
        while (!Files.exists(Paths.get(barrierDir, s"staged-$peer"))) {
          if (System.currentTimeMillis() > d2)
            sys.error(s"rendezvous: peer $peer never staged")
          Thread.sleep(20)
        }
      }
    }
    if (mode == "dv") {
      val offset = if (writerId == "A") 0 else 10
      for (i <- 1 to n) {
        // DeletionVectors.delete commits with the default bounded retry
        // budget (5); under forced contention a writer can legitimately
        // exhaust it and surface ConcurrentCommitException — re-issuing
        // the delete is the caller-level recovery the exception asks
        // for (nothing was committed), so retry here, bounded.
        var done = false
        var tries = 0
        while (!done) {
          tries += 1
          try {
            graft.storage.DeletionVectors.delete(spark, table,
              col("id") % 20 === lit(offset + i - 1))
            done = true
          } catch {
            case e: graft.storage.ConcurrentCommitException =>
              if (tries >= 5) throw e
          }
        }
      }
      Files.writeString(Paths.get(barrierDir, s"staged-count-$writerId"),
        stagedCount.toString)
      spark.stop()
      return
    }
    if (mode == "merge") {
      // SQL MERGE racers: each writer upserts a DISJOINT key range
      // through GraftSqlParser. The merge is a whole-table rewrite that
      // derives INSIDE the commit closure, so a lost claim re-invokes
      // the closure against the winner's version and the rebase keeps
      // the winner's rows — a writer's range missing from the final
      // table means the merge replayed rows derived before the race
      // (the lost-update bug ExtensionsSpec pins in-JVM; this proves it
      // across real processes, where no shared lock object exists).
      val base = if (writerId == "A") 1000L else 2000L
      for (i <- 1 to n) {
        spark.range(base + (i - 1) * 5, base + i * 5)
          .select(col("id"), lit(writerId).as("writer"))
          .createOrReplaceTempView("merge_src")
        // Caller-level bounded retry on an exhausted claim budget —
        // nothing was committed, re-issuing is the documented recovery
        // (the dv-mode rationale).
        var done = false
        var tries = 0
        while (!done) {
          tries += 1
          try {
            graft.ext.GraftSqlParser.sql(spark,
              s"MERGE INTO $table USING merge_src " +
                s"ON $table.id = merge_src.id " +
                "WHEN MATCHED THEN UPDATE SET * " +
                "WHEN NOT MATCHED THEN INSERT *")
            done = true
          } catch {
            case e: graft.storage.ConcurrentCommitException =>
              if (tries >= 8) throw e
          }
        }
      }
      Files.writeString(Paths.get(barrierDir, s"staged-count-$writerId"),
        stagedCount.toString)
      spark.stop()
      return
    }
    for (i <- 1 to n) {
      // High retry budget: with two writers hammering the same table,
      // losing several consecutive claims is expected, not exceptional.
      // FILE-LEVEL append, the merge arm's shape: the new row lands as
      // its own file and every existing file CARRIES (a hard link) — so
      // the race also exercises carry and prune under real
      // cross-process interleaving.
      // dataFiles re-lists the pointer, so it can transiently see one
      // version AHEAD of the registered base; that attempt then fails
      // the claim's base check and rebases — wasted work, never a wrong
      // publish.
      sc.commit(spark, table, maxAttempts = 50) { dir =>
        val existing = sc.dataFiles(spark, table)
        spark.range(1, 2)
          .select(lit(writerId).as("writer"), lit(i).as("seq"))
          .coalesce(1).write.parquet(dir)
        val d = new org.apache.hadoop.fs.Path(dir)
        existing.zipWithIndex.foreach { case ((nm, p), k) =>
          sc.carry(spark, p, new org.apache.hadoop.fs.Path(d, s"c$k-$nm"))
        }
      }
    }
    Files.writeString(Paths.get(barrierDir, s"staged-count-$writerId"),
      stagedCount.toString)
    spark.stop()
  }
}
