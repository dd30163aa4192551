package graft

import graft.queries.StorageQueries

/** The storage-layout queries are about PLANS, not just values: bucketing
  * must delete the join/agg shuffles, partitioning must prune the scan.
  * These assertions pin the executed plan shape so a regression that
  * silently reintroduces an exchange fails the build.
  */
class StorageSpec extends SparkSpec {

  /** The current version's `_dv` sidecar rows; None when that version
    * has no `_dv` directory. */
  private def currentSidecar(tbl: String): Option[Seq[(String, Long, Long)]] =
    graft.storage.DeletionVectors.sidecarRowsAt(spark,
      new org.apache.hadoop.fs.Path(
        graft.storage.SnapshotCommit.currentLocation(spark, tbl).get, "_dv"))

  test("bucketed join + same-key aggregation runs without a shuffle") {
    val df = StorageQueries.b1BucketedJoin.fn(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed plan, got:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
  }

  test("partition filter reaches the scan as a PartitionFilter") {
    val df = StorageQueries.b2PartitionPruning.fn(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"),
      s"expected partitioned scan, got:\n$plan")
    // The status predicate must be a partition filter (directory prune),
    // not a post-scan data filter.
    assert(plan.replaceAll("\\s+", " ")
      .matches("(?s).*PartitionFilters: \\[[^\\]]*o_orderstatus[^\\]]*\\].*"),
      s"status filter not pushed to partitions:\n$plan")
  }

  test("clusterBy layout: min/max file stats prune a clustered-key probe") {
    import org.apache.spark.sql.functions._
    // The committed gold fact is CLUSTER BY (product_key, ...) via
    // Pipeline.clustered = repartitionByRange + sortWithinPartitions
    // (the liquid-clustering stand-in, fact_order_items.sql:9). At
    // sf0.001 AQE rightly coalesces the whole table into ONE file, which
    // can't exhibit pruning — so this proof takes the committed fact's
    // DATA and lays it out at an explicit 8-way range clustering (what
    // the same transform produces once the table exceeds one target
    // file), then reads the parquet footers: the stats a row-group
    // filter — or a Delta/Iceberg file planner over this layout — skips
    // with. Clustered layout ⇒ key ranges are (near-)disjoint, a point
    // probe lands in ≤2 of 8 row groups; the SAME DATA hash-scattered ⇒
    // every row group's [min,max] spans the probe and nothing prunes.
    val names = graft.olist.OlistMaterialized.ensure(spark, Sf0001)
    val fact = spark.table(names.fact)
    val base = SparkSpec.tempDir("graft_clusterby").toString
    fact.repartitionByRange(8, col("product_key"))
      .sortWithinPartitions(col("product_key"))
      .write.mode("overwrite").parquet(s"$base/clustered")
    fact.repartition(8, col("order_item_key"))   // layout-free control
      .write.mode("overwrite").parquet(s"$base/scattered")
    // Probe with a MEDIAN key, not an extreme: the global minimum sits
    // below every other file's range, so even a scattered layout would
    // spuriously "prune" it.
    val nKeys = fact.count()
    val probe = fact.select(col("product_key"))
      .orderBy(col("product_key")).limit((nKeys / 2).toInt + 1)
      .orderBy(col("product_key").desc).limit(1).head().getString(0)
    def hits(dir: String): (Int, Int) = {
      val ranges = StorageQueries.rowGroupRanges(spark, dir, "product_key")
      (ranges.count { case (lo, hi) => lo <= probe && probe <= hi },
        ranges.size)
    }
    val (cHits, cTotal) = hits(s"$base/clustered")
    val (sHits, sTotal) = hits(s"$base/scattered")
    assert(cTotal >= 8 && sTotal >= 8, s"layouts too small: $cTotal/$sTotal")
    assert(cHits <= 2,
      s"clustered layout did not isolate the probe key: $cHits/$cTotal")
    assert(sHits == sTotal,
      s"control layout unexpectedly prunable: $sHits/$sTotal")
    // And Spark pushes the probe predicate to the parquet scan, where
    // the row-group filter consumes exactly these stats.
    val scan = spark.read.parquet(s"$base/clustered")
      .filter(col("product_key") === probe)
    scan.collect()
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("product_key"),
      s"probe predicate not pushed to the scan:\n$plan")
  }

  test("deletion vectors: deletes leave data files byte-identical") {
    import org.apache.spark.sql.functions._
    import graft.storage.DeletionVectors
    val tbl = "dv_spec_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.range(0, 1000).select(col("id"), (col("id") * 3).as("v"))
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
    def listing(): Set[(String, Long, Long)] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.table(tbl).inputFiles.head).getParent
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
        .toSet
    }
    val before = listing()
    DeletionVectors.delete(spark, tbl, col("id") % 10 === 0)
    DeletionVectors.delete(spark, tbl, col("id") >= 900)
    // the delete is metadata-only: same names, sizes, mtimes
    assert(listing() === before, "a delete rewrote data files")
    val live = DeletionVectors.read(spark, tbl)
    assert(live.count() === 1000 - 100 - 100 + 10)   // %10 ∩ >=900 = 10
    assert(live.filter(col("id") % 10 === 0 || col("id") >= 900)
      .count() === 0)
    // compact folds the vectors in: files rewritten, sidecar gone,
    // visible rows unchanged
    DeletionVectors.compact(spark, tbl)
    assert(currentSidecar(tbl).isEmpty)
    assert(spark.table(tbl).count() === 810)
    assert(DeletionVectors.read(spark, tbl).count() === 810)
  }

  test("time travel: every delete version readable; restore is metadata-only") {
    import org.apache.spark.sql.functions._
    import graft.storage.DeletionVectors
    val tbl = "dv_tt_spec_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.range(0, 1000).select(col("id"), (col("id") * 3).as("v"))
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
    def listing(): Set[(String, Long, Long)] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.table(tbl).inputFiles.head).getParent
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
        .toSet
    }
    val before = listing()
    assert(DeletionVectors.version(spark, tbl) === 0L)
    val v1 = DeletionVectors.delete(spark, tbl, col("id") % 10 === 0)
    val v2 = DeletionVectors.delete(spark, tbl, col("id") >= 900)
    assert((v1, v2) === (1L, 2L))
    assert(DeletionVectors.version(spark, tbl) === 2L)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    val all = (0L until 1000L).toSet
    // every version stays readable from the same immutable files
    assert(ids(DeletionVectors.readAt(spark, tbl, 0)) === all)
    assert(ids(DeletionVectors.readAt(spark, tbl, v1))
      === all.filterNot(_ % 10 == 0))
    assert(ids(DeletionVectors.readAt(spark, tbl, v2))
      === all.filterNot(i => i % 10 == 0 || i >= 900))
    assert(ids(DeletionVectors.read(spark, tbl))
      === ids(DeletionVectors.readAt(spark, tbl, v2)))
    // RESTORE TO v1: the live view rolls back, data files untouched
    DeletionVectors.restore(spark, tbl, v1)
    assert(ids(DeletionVectors.read(spark, tbl))
      === all.filterNot(_ % 10 == 0))
    // The HIGH-WATER MARK survives the rollback: version numbers are
    // never reused, so the caller who bookmarked readAt(tbl, v2) before
    // the restore can never see a DIFFERENT delete's rows under that
    // anchor (it now reads as the restored v1 state — v2's history was
    // erased, not reassigned).
    assert(DeletionVectors.version(spark, tbl) === v2)
    assert(listing() === before, "time travel or restore touched data files")
    // deleting after a restore CONTINUES ABOVE every number history has
    // ever used — monotonic, like Delta's version chain.
    val v3 = DeletionVectors.delete(spark, tbl, col("id") < 50)
    assert(v3 === 3L)
    assert(ids(DeletionVectors.read(spark, tbl))
      === all.filterNot(i => i % 10 == 0 || i < 50))
    assert(ids(DeletionVectors.readAt(spark, tbl, 2L))
      === all.filterNot(_ % 10 == 0),
      "the erased v2 anchor must read as the restored state, never " +
        "as a later delete's rows")
    // Below a vacuum floor the rows are physically gone — restore there
    // must refuse, not silently publish a wrong state.
    DeletionVectors.vacuum(spark, tbl, cutoff = 1L)
    intercept[IllegalArgumentException] {
      DeletionVectors.restore(spark, tbl, 0L)
    }
  }

  test("optimize bin-packs small files toward the target size") {
    import org.apache.spark.sql.functions._
    import graft.storage.Optimize
    val tbl = "opt_spec_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.range(0, 20000)
      .select(col("id"), lpad(col("id").cast("string"), 64, "x").as("pad"))
      .repartition(16)
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
    val before = spark.table(tbl).inputFiles.length
    assert(before === 16)
    val hconf = spark.sparkContext.hadoopConfiguration
    def bytes(): Long = spark.table(tbl).inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(hconf).getFileStatus(p).getLen
    }.sum
    val checksum = spark.table(tbl)
      .agg(sum(col("id")), count(lit(1))).collect()(0)
    // explicit target ~ a third of the table -> expect ~3-5 files
    val (nb, na) = Optimize.compact(spark, tbl, Some(bytes() / 3))
    assert(nb === 16 && na < 16 && na <= 6,
      s"compaction produced $na files from $nb")
    assert(spark.table(tbl)
      .agg(sum(col("id")), count(lit(1))).collect()(0) === checksum,
      "compaction changed the data")
    // property-driven target (the reference's delta.targetFileSize
    // spelling): a tiny target re-splits into MORE files than the
    // compacted layout — the option is honored end to end.
    spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
      s"('${Optimize.TargetFileSizeProp}' = '16384')")
    val (_, na2) = Optimize.compact(spark, tbl)
    assert(na2 > na, s"targetFileSize property ignored: $na2 <= $na")
    assert(spark.table(tbl)
      .agg(sum(col("id")), count(lit(1))).collect()(0) === checksum)
  }

  test("register fast path: destroy + rebuild at v1 must not serve the old " +
      "incarnation") {
    // register()'s fast path probes the session's relation cache
    // instead of refreshing. The aliasing hazard: destroy a table,
    // rebuild it — versions restart at 1 under the SAME v1 path as the
    // dead incarnation. A probe that misread a surviving cache entry
    // as fresh would serve the OLD files.
    import org.apache.spark.sql.functions._
    import graft.storage.SnapshotCommit
    val tbl = "snap_reincarnate_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 10).select(col("id"), lit("first").as("gen"))
        .write.parquet(dir)
    }
    SnapshotCommit.register(spark, tbl)
    SnapshotCommit.register(spark, tbl) // memoized second pass, same v1
    assert(spark.table(tbl).select("gen").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("first"))
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 7).select(col("id"), lit("second").as("gen"))
        .write.parquet(dir)
    }
    assert(SnapshotCommit.currentVersion(spark, tbl) === Some(1L),
      "rebuilt table should restart at v1 — the aliasing case under test")
    SnapshotCommit.register(spark, tbl)
    val out = spark.table(tbl)
    assert(out.count() === 7)
    assert(out.select("gen").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("second"))
  }

  test("resolveDir finds a version whose stage finalizeDir renames to " +
      "v<N> between its two probes") {
    // A reader resolves each version it sees while one writer commits
    // ~200 more. A pointer's directory is always either its stage or
    // v<N>, so the only legal None is a version prune has dropped (it
    // keeps the current version and the one before).
    import java.nio.file.{Files, Paths}
    import graft.storage.SnapshotCommit
    val tbl = "snap_resolve_race_tbl"
    SnapshotCommit.destroy(spark, tbl)
    val seed = SparkSpec.tempDir("graft_resolve_race").resolve("seed")
    spark.range(0, 1).toDF("id").coalesce(1).write.parquet(seed.toString)
    val part = Files.list(seed).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    def commitOne(): Unit = SnapshotCommit.commit(spark, tbl) { dir =>
      val local = Paths.get(new org.apache.hadoop.fs.Path(dir).toUri.getPath)
      Files.createDirectories(local)
      Files.copy(part, local.resolve("part-00000.parquet"))
    }
    commitOne()
    @volatile var writing = true
    val misses = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reads = new java.util.concurrent.atomic.AtomicLong()
    val reader = new Thread(() => while (writing) {
      SnapshotCommit.currentVersion(spark, tbl).foreach { v =>
        reads.incrementAndGet()
        if (SnapshotCommit.resolveDir(spark, tbl, v).isEmpty &&
            SnapshotCommit.currentVersion(spark, tbl).forall(_ < v + 2))
          misses.add(v)
      }
    })
    reader.start()
    try (2 to 200).foreach(_ => commitOne())
    finally { writing = false; reader.join() }
    assert(SnapshotCommit.currentVersion(spark, tbl) === Some(200L))
    assert(reads.get > 200, s"reader resolved only ${reads.get} versions")
    assert(misses.isEmpty, s"published versions resolved to None: $misses")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("register fast path: a SIBLING session's cache from a dead " +
      "incarnation is rejected even though the rebuilt v1 path is identical") {
    // The cross-session variant of the reincarnation hazard: clone B
    // caches incarnation 1's relation; A destroys and rebuilds — the new
    // v1 lands under the IDENTICAL path with different files, and only
    // A's session cache was invalidated by the DROP. A path-equality
    // probe would wave B's stale entry through; the probe must compare
    // the catalog entry's identity (createTime), which rebuilding
    // refreshes.
    import org.apache.spark.sql.functions._
    import graft.storage.SnapshotCommit
    val tbl = "snap_xsession_reincarnate_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 10).select(col("id"), lit("one").as("gen"))
        .coalesce(1).write.parquet(dir)
    }
    val clone = spark.newSession()
    assert(clone.table(tbl).count() === 10) // clone caches incarnation 1
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 6).select(col("id"), lit("two").as("gen"))
        .coalesce(1).write.parquet(dir)
    }
    assert(SnapshotCommit.currentVersion(spark, tbl) === Some(1L),
      "rebuilt table should restart at v1 under the same path")
    assert(!SnapshotCommit.registrationFresh(clone, tbl, 1L),
      "the dead incarnation's cache entry passed the probe — " +
        "incarnations are indistinguishable by path alone")
    assert(SnapshotCommit.register(clone, tbl) === Some(1L))
    assert(clone.table(tbl).select("gen").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("two"))
    assert(clone.table(tbl).count() === 6)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("register fast path across sessions: a fresh clone skips the slow " +
      "path, a clone holding a stale relation cache does not") {
    import org.apache.spark.sql.functions._
    import graft.storage.SnapshotCommit
    val tbl = "snap_clone_fresh_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 10).select(col("id"), lit("v1").as("gen"))
        .write.parquet(dir)
    }
    // A newSession() clone that never touched the table: empty relation
    // cache + shared external catalog entry => nothing stale, fast path
    // (the r8 sessionState-identity memo sent every clone down the slow
    // path; the identity hash could also collide between live sessions).
    val clone = spark.newSession()
    val slow0 = SnapshotCommit.slowRegisters.get()
    assert(SnapshotCommit.register(clone, tbl) === Some(1L))
    assert(SnapshotCommit.slowRegisters.get() === slow0,
      "a cold clone re-registered — the clone fast path regressed")
    assert(clone.table(tbl).count() === 10)
    // The clone has now CACHED the v1 relation. Publish v2 from the
    // parent session (its ALTER lands in the shared external catalog,
    // its REFRESH only clears the parent's cache): the clone's probe
    // must detect its own stale cache and take the slow path — this is
    // the cross-session lost-update hazard the probe exists to close,
    // and it only fails loudly if the probe's cache-key construction
    // actually finds the entry (pinning the key format against Spark
    // internals drift).
    assert(SnapshotCommit.registrationFresh(clone, tbl, 1L),
      "clone should be fresh at v1 after reading it")
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 7).select(col("id"), lit("v2").as("gen"))
        .write.parquet(dir)
    }
    assert(!SnapshotCommit.registrationFresh(clone, tbl, 2L),
      "clone's stale v1 relation cache went undetected — either the " +
        "probe's cache key misses real entries or staleness is ignored")
    val slow1 = SnapshotCommit.slowRegisters.get()
    assert(SnapshotCommit.register(clone, tbl) === Some(2L))
    assert(SnapshotCommit.slowRegisters.get() === slow1 + 1,
      "stale clone should have re-registered")
    assert(clone.table(tbl).select("gen").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("v2"))
    SnapshotCommit.destroy(spark, tbl)
  }

  test("a stale same-name temp view cannot wedge registration: register " +
      "drops it and re-points the catalog table") {
    import org.apache.spark.sql.functions._
    import graft.storage.SnapshotCommit
    val tbl = "snap_shadow_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 5).toDF("id").write.parquet(dir)
    }
    // A user's same-name temp view shadows the catalog table
    // (tableExists says true, metadata lookup throws) — register must
    // recover, not surface NoSuchTableException.
    spark.range(0, 99).toDF("wrong").createOrReplaceTempView(tbl)
    assert(SnapshotCommit.register(spark, tbl) === Some(1L))
    assert(spark.table(tbl).columns.toSeq === Seq("id"),
      "the shadowing temp view was served instead of the catalog table")
    assert(spark.table(tbl).count() === 5)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("setProperties is atomic and loses no concurrent keys") {
    import graft.storage.SnapshotCommit
    val tbl = "snap_props_race_tbl"
    SnapshotCommit.destroy(spark, tbl)
    // 2 threads x 20 distinct keys, all merging into one sidecar: the
    // read-merge-write is serialized through the table lock and each
    // publish is a temp-file + atomic OVERWRITE rename, so every key
    // must survive and no truncated/temp artifacts may remain.
    val threads = (0 until 2).map { t =>
      new Thread(() => (0 until 20).foreach { i =>
        SnapshotCommit.setProperties(spark, tbl, Map(s"k$t.$i" -> s"$t$i"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val props = SnapshotCommit.properties(spark, tbl)
    for (t <- 0 until 2; i <- 0 until 20)
      assert(props.get(s"k$t.$i") === Some(s"$t$i"),
        s"key k$t.$i lost in the concurrent merge")
    val root = SnapshotCommit.rootDir(spark, tbl)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftovers = fs.listStatus(root)
      .map(_.getPath.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"temp artifacts leaked: ${leftovers.toSeq}")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("concurrent DV deletes serialize: loser rebases its stamp and sidecar union") {
    import java.util.concurrent.{CyclicBarrier, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.functions._
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "dv_conc_spec_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    SnapshotCommit.destroy(spark, tbl)
    spark.range(0, 1000).select(col("id"), (col("id") * 3).as("v"))
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
    // Serial first delete: adopts the table and anchors version 1.
    assert(DeletionVectors.delete(spark, tbl, col("id") < 10) === 1L)
    // Two deletes race the SAME claim: both stage a sidecar stamped
    // v=2 against the same base; the loser must re-derive (stamp 3,
    // union over the winner's sidecar), not clobber.
    val gate = new CyclicBarrier(2)
    val staged = new AtomicInteger(0)
    SnapshotCommit.failpoint = s =>
      if (s == "staged" && staged.incrementAndGet() <= 2) {
        gate.await(30, TimeUnit.SECONDS); ()
      }
    val out = try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val a = Future(DeletionVectors.delete(spark, tbl, col("id") >= 990))
      val b = Future(DeletionVectors.delete(spark, tbl,
        col("id").between(500, 509)))
      val r = Await.result(Future.sequence(Seq(a, b)), Duration.Inf)
      pool.shutdown(); r
    } finally SnapshotCommit.failpoint = _ => ()
    assert(out.toSet === Set(2L, 3L),
      s"concurrent deletes did not serialize their stamps: $out")
    assert(staged.get() === 3, "expected exactly one rebased attempt")
    assert(DeletionVectors.version(spark, tbl) === 3L)
    // All three deletes are live — no vector was lost to the race.
    val live = DeletionVectors.read(spark, tbl)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(live === (0L until 1000L).toSet
      .filterNot(i => i < 10 || i >= 990 || (i >= 500 && i <= 509)))
    // And time travel still separates them in commit order.
    assert(DeletionVectors.readAt(spark, tbl, 1).count() === 990)
  }

  test("optimize on a DV table folds the vectors in instead of resurrecting deletes") {
    import org.apache.spark.sql.functions._
    import graft.storage.{DeletionVectors, Optimize}
    val tbl = "opt_dv_spec_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.storage.SnapshotCommit.destroy(spark, tbl)
    spark.range(0, 5000)
      .select(col("id"), lpad(col("id").cast("string"), 64, "x").as("pad"))
      .repartition(8)
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
    DeletionVectors.delete(spark, tbl, col("id") % 5 === 0)
    val liveBefore = DeletionVectors.read(spark, tbl)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(liveBefore.size === 4000)
    val (nb, na) = Optimize.compact(spark, tbl)
    assert(nb === 8 && na < nb)
    // The reference declares enableDeletionVectors and targetFileSize on
    // the SAME tables: compaction must preserve DV semantics. Deleted
    // rows stay deleted (now physically), the sidecar is purged, and
    // both the raw table and the DV view agree.
    assert(currentSidecar(tbl).isEmpty, "sidecar survived the compaction")
    assert(spark.table(tbl).select("id").collect().map(_.getLong(0)).toSet
      === liveBefore, "optimize resurrected or lost soft-deleted rows")
    assert(DeletionVectors.read(spark, tbl).count() === 4000)
  }

  test("zorder layout: every clustered key prunes, not just the leading one") {
    import org.apache.spark.sql.functions._
    // The multi-key CLUSTER BY claim (fact_order_items.sql:9 clusters on
    // FOUR keys): under a lexicographic sort only the leading key's
    // per-file min/max is tight — a probe on the second key overlaps
    // every file. The Z-order layout interleaves a 16-bit rank of each
    // key, so a median-key probe on EITHER column prunes.
    val names = graft.olist.OlistMaterialized.ensure(spark, Sf0001)
    val fact = spark.table(names.fact)
    val base = SparkSpec.tempDir("graft_zorder_proof").toString
    graft.storage.ZOrder
      .layout(fact, Seq("product_key", "seller_key"), partitions = Some(8))
      .write.mode("overwrite").parquet(s"$base/z")
    fact.repartitionByRange(8, col("product_key"), col("seller_key"))
      .sortWithinPartitions(col("product_key"), col("seller_key"))
      .write.mode("overwrite").parquet(s"$base/lex")
    // Expected probe cost: mean number of row-group ranges containing a
    // key, averaged over EVERY distinct key of the column (a median
    // single probe would under-measure — seller_key has only ~10
    // distinct values at this sf, so any one value sits inside most
    // spans by chance).
    def meanHits(dir: String, c: String): (Double, Int) = {
      val ranges = StorageQueries.rowGroupRanges(spark, dir, c)
      val keys = fact.select(col(c)).distinct().collect()
        .map(_.getString(0))
      (keys.map(k =>
        ranges.count { case (lo, hi) => lo <= k && k <= hi }).sum
        .toDouble / keys.length, ranges.size)
    }
    val (pz, zn) = meanHits(s"$base/z", "product_key")
    val (sz, _) = meanHits(s"$base/z", "seller_key")
    val (pl, ln) = meanHits(s"$base/lex", "product_key")
    val (sl, _) = meanHits(s"$base/lex", "seller_key")
    assert(zn >= 8 && ln >= 8, s"layouts too small: $zn/$ln")
    assert(pl <= 2.0, s"lexicographic leading-key probe spread: $pl/$ln")
    assert(sl >= ln - 0.5,
      s"lexicographic second key unexpectedly prunable: $sl/$ln")
    assert(pz <= 0.6 * zn,
      s"z-order leading-key probe did not prune: $pz/$zn")
    assert(sz <= 0.8 * zn && sz < sl - 1.0,
      s"z-order second-key probe did not prune: $sz/$zn vs lex $sl")
  }

  test("vacuum folds old deletes, rebases newer coordinates, carries untouched files") {
    import org.apache.spark.sql.functions._
    import graft.storage.DeletionVectors
    val tbl = "dv_vac_spec_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    // Range layout gives each file a disjoint id range, so the v1/v2
    // deletes (ids < 500) leave the upper-range files untouched while
    // v3 (%7) spreads over every file.
    spark.range(0, 1000).select(col("id"), (col("id") * 3).as("payload"))
      .repartitionByRange(4, col("id"))
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    def listing(): Map[String, Long] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.table(tbl).inputFiles.head).getParent
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => s.getPath.getName -> s.getLen).toMap
    }
    val v1 = DeletionVectors.delete(spark, tbl,
      col("id") % 10 === 0 && col("id") < 500)
    val v2 = DeletionVectors.delete(spark, tbl,
      col("id") >= 200 && col("id") < 220)
    val v3 = DeletionVectors.delete(spark, tbl, col("id") % 7 === 0)
    assert((v1, v2, v3) === (1L, 2L, 3L))
    val liveBefore = ids(DeletionVectors.read(spark, tbl))
    val floorState = ids(DeletionVectors.readAt(spark, tbl, v2))
    val before = listing()

    DeletionVectors.vacuum(spark, tbl, cutoff = v2)

    // The live view and every retained version survive the rewrite.
    assert(ids(DeletionVectors.read(spark, tbl)) === liveBefore,
      "vacuum changed the live view")
    assert(ids(DeletionVectors.readAt(spark, tbl, v3)) === liveBefore)
    // Below the retention floor, reads return the floor state (v1/v2
    // are folded into the files and no longer separable).
    assert(ids(DeletionVectors.readAt(spark, tbl, 0)) === floorState)
    assert(ids(DeletionVectors.readAt(spark, tbl, v2)) === floorState)
    // Untouched files (upper id ranges) carried by name and size;
    // affected files replaced by vacuum-rewritten ones.
    val after = listing()
    val carried = before.keySet.intersect(after.keySet)
    assert(carried.nonEmpty, "no untouched file was carried")
    carried.foreach(k => assert(before(k) === after(k),
      s"carried file $k changed size"))
    assert((before.keySet -- after.keySet).nonEmpty,
      "no affected file was replaced")
    assert(after.keySet.exists(_.startsWith("vacuum-")),
      "no vacuum-rewritten file present")
    // Sidecar: folded entries gone, v3 rebased, version chain intact.
    assert(!currentSidecar(tbl).get.exists { case (_, p, v) =>
        p >= 0 && v <= v2 }, "folded sidecar entries survived the vacuum")
    assert(DeletionVectors.version(spark, tbl) === v3)
    val v4 = DeletionVectors.delete(spark, tbl, col("id") === 1)
    assert(v4 === 4L)
    assert(ids(DeletionVectors.read(spark, tbl)) === (liveBefore - 1L))
  }

  test("vacuum parity: below the HWM, every retained version, the change " +
      "feed and the sentinels survive, and rebased coordinates match a " +
      "fresh scan") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val tbl = "dv_vac_parity_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    SnapshotCommit.destroy(spark, tbl)
    spark.range(0, 1000).select(col("id"), (col("id") * 3).as("payload"))
      .repartitionByRange(4, col("id"))
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString(",")).toSeq.sorted
    // id -> (file, position) in the current version's raw files.
    def coords(): Map[Long, (String, Long)] = spark.table(tbl)
      .select(col("id"), col("_metadata.file_name"),
        col("_metadata.row_index"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    def sidecar(): Seq[(String, Long, Long)] = currentSidecar(tbl).get

    val v1 = DeletionVectors.delete(spark, tbl, col("id") % 10 === 0)
    // Every row of the file holding id 0 folds (range layout: that file
    // is [0, maxA]).
    val fileA = coords()(0L)._1
    val maxA = coords().collect { case (id, (f, _)) if f == fileA => id }.max
    val v2 = DeletionVectors.delete(spark, tbl, col("id") <= maxA)
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl SELECT id, id * 3 AS " +
      "payload FROM range(2000, 2010)")
    val copyDir = new java.io.File(SparkSpec.warehouse, "vac_parity_copy")
    spark.range(3000, 3010).select(col("id"), (col("id") * 3).as("payload"))
      .coalesce(1).write.mode("overwrite").parquet(copyDir.toString)
    GraftSqlParser.sql(spark,
      s"COPY INTO $tbl FROM '$copyDir' FILEFORMAT = PARQUET")
    // The cutoff: its deletes reach the INSERTed and the COPYed files.
    val cutoff = DeletionVectors.delete(spark, tbl,
      (col("id") >= 2000 && col("id") % 2 === 0) || col("id") === 3001)
    // Above the cutoff: re-deleted coordinates (DELETE reads the raw
    // table, so rows folded at v1 get second entries), fresh deletes
    // across the rewritten files, an INSERT and a delete in its file.
    val v6 = DeletionVectors.delete(spark, tbl,
      (col("id") % 10 === 0 && col("id") < 500) || col("id") % 7 === 1)
    GraftSqlParser.sql(spark, s"INSERT INTO $tbl SELECT id, id * 3 AS " +
      "payload FROM range(4000, 4010)")
    val hwm = DeletionVectors.delete(spark, tbl,
      col("id") % 3 === 2 && col("id") > 900)
    assert((v1, v2, cutoff, v6, hwm) === (1L, 2L, 5L, 6L, 8L))
    val sideBefore = sidecar()
    val inserted = sideBefore.collect { case (f, _, v)
      if v == v2 + 1 && f.startsWith(DeletionVectors.AddPrefix) =>
        f.stripPrefix(DeletionVectors.AddPrefix) }
    assert(inserted.nonEmpty && inserted.forall(n => sideBefore.exists {
      case (f, p, v) => f == n && p >= 0 && v <= cutoff }),
      "fixture must hold an INSERT whose file the vacuum rewrites")
    val readsBefore = (cutoff to hwm).map(v =>
      rows(DeletionVectors.readAt(spark, tbl, v)))
    val liveBefore = rows(DeletionVectors.read(spark, tbl))
    val feedBefore = rows(DeletionVectors.changesBetween(spark, tbl,
      cutoff, hwm))
    val idAt = coords().map(_.swap)
    val foldedIds = sideBefore.collect {
      case (f, p, v) if p >= 0 && v <= cutoff => idAt((f, p)) }.toSet
    val keptIds = sideBefore.collect {
      case (f, p, v) if p >= 0 && v > cutoff => (idAt((f, p)), v) }
    assert(keptIds.exists { case (id, _) => foldedIds(id) },
      "fixture must hold a re-deleted coordinate")
    val copied = DeletionVectors.copiedSources(spark, tbl)
    assert(copied.nonEmpty)

    DeletionVectors.vacuum(spark, tbl, cutoff)

    assert(!SnapshotCommit.dataFiles(spark, tbl).toMap.contains(fileA),
      "a file whose every row folded must not be carried")
    assert(rows(DeletionVectors.read(spark, tbl)) === liveBefore)
    (cutoff to hwm).zip(readsBefore).foreach { case (v, before) =>
      assert(rows(DeletionVectors.readAt(spark, tbl, v)) === before,
        s"readAt($v) changed across the vacuum")
    }
    assert(rows(DeletionVectors.changesBetween(spark, tbl, cutoff, hwm))
      === feedBefore)
    val sideAfter = sidecar()
    assert(sideAfter.filter(_._1 == "_floor") === Seq(("_floor", -1L, cutoff)))
    assert(sideAfter.filter(_._1 == "_hwm") === Seq(("_hwm", -1L, hwm)))
    assert(DeletionVectors.copiedSources(spark, tbl) === copied,
      "the COPY INTO ledger must survive the fold")
    // Brute force: each kept entry's row, located by a fresh scan of the
    // vacuumed files; entries of folded rows are gone.
    val now = coords()
    val expected = keptIds.collect { case (id, v) if !foldedIds(id) =>
      (now(id)._1, now(id)._2, v) }.sorted
    assert(sideAfter.filter(_._2 >= 0).sorted === expected)
    assert(DeletionVectors.version(spark, tbl) === hwm)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("bloom index: point probe skippable by bloom where min/max prunes nothing") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val tbl = StorageQueries.bloomOrdersTable(spark, Sf0001)
    val loc = new org.apache.hadoop.fs.Path(
      spark.table(tbl).inputFiles.head).getParent
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = loc.getFileSystem(hconf)
    val files = fs.listStatus(loc).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length >= 8, s"expected >= 8 files, got ${files.length}")
    // Probe keys sampled from the INTERIOR of the range (an extreme key
    // sits outside most files' [min,max] even under a random split, so
    // it would make min/max look selective); each lives in exactly one
    // file of the random split.
    val keys = spark.table(tbl).select(col("o_orderkey"))
      .orderBy(col("o_orderkey")).collect().map(_.getLong(0))
    val probes = (1 to 5).map(i => keys(i * (keys.length - 1) / 6))
    var totalGroups = 0
    var bloomHits = 0
    var minmaxHits = 0
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(f, hconf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.foreach { block =>
        val cm = block.getColumns.asScala
          .find(_.getPath.toDotString == "o_orderkey").get
        assert(cm.getBloomFilterOffset >= 0,
          s"no bloom filter written for o_orderkey in $f")
        val bloom = reader.getBloomFilterDataReader(block)
          .readBloomFilter(cm)
        val stats = cm.getStatistics
        val lo = stats.genericGetMin.asInstanceOf[java.lang.Long]
        val hi = stats.genericGetMax.asInstanceOf[java.lang.Long]
        probes.foreach { k =>
          totalGroups += 1
          if (bloom.findHash(bloom.hash(k.longValue()))) bloomHits += 1
          if (lo <= k && k <= hi) minmaxHits += 1
        }
      } finally reader.close()
    }
    // Random split: every file spans the key range, so min/max rejects
    // (almost) nothing; the bloom rejects the row groups that genuinely
    // lack the key, modulo its false-positive rate.
    assert(minmaxHits >= (totalGroups * 9) / 10,
      s"min/max unexpectedly selective: $minmaxHits/$totalGroups")
    assert(bloomHits <= totalGroups / 2,
      s"bloom filter not selective: $bloomHits/$totalGroups")
    // And the engine-level read returns exactly the probed rows.
    val k = probes.head
    assert(spark.table(tbl).filter(col("o_orderkey") === k).count() ===
      keys.count(_ == k))
  }

  test("restore into (cutoff, HWM] succeeds after vacuum; below the floor " +
      "still throws") {
    // The two-sentinel split's entire point: vacuum(cutoff) folds only
    // versions <= cutoff, so every version in (cutoff, HWM] stays
    // reconstructible from the kept/rebased sidecar entries. The
    // pre-split form (one `_floor` stamped at the HWM) rejected exactly
    // these restores.
    import org.apache.spark.sql.functions._
    import graft.storage.DeletionVectors
    val tbl = "dv_midrange_restore_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.storage.SnapshotCommit.destroy(spark, tbl)
    spark.range(0, 1000).select(col("id"), (col("id") * 3).as("payload"))
      .repartitionByRange(4, col("id"))
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
    val v1 = DeletionVectors.delete(spark, tbl, col("id") % 10 === 0)
    val v2 = DeletionVectors.delete(spark, tbl, col("id") >= 900)
    val v3 = DeletionVectors.delete(spark, tbl, col("id") < 50)
    assert((v1, v2, v3) === (1L, 2L, 3L))
    DeletionVectors.vacuum(spark, tbl, cutoff = v1) // HWM = 3 > cutoff = 1
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    val all = (0L until 1000L).toSet
    // Mid-range restore: v2 sits strictly between the fold cutoff and
    // the HWM — it must SUCCEED and read exactly the v2 state.
    DeletionVectors.restore(spark, tbl, v2)
    assert(ids(DeletionVectors.read(spark, tbl))
      === all.filterNot(i => i % 10 == 0 || i >= 900),
      "restore into (cutoff, HWM] did not reproduce the v2 state")
    // The floor itself is the post-fold base state — also restorable.
    DeletionVectors.restore(spark, tbl, v1)
    assert(ids(DeletionVectors.read(spark, tbl))
      === all.filterNot(_ % 10 == 0))
    // Below the floor the rows are physically gone: still refused.
    intercept[IllegalArgumentException] {
      DeletionVectors.restore(spark, tbl, 0L)
    }
    // The HWM survived all of it: the next delete continues the chain.
    assert(DeletionVectors.version(spark, tbl) === 3L)
    assert(DeletionVectors.delete(spark, tbl, col("id") === 1) === 4L)
  }

  test("concurrent reap race: a dangling pointer vanishing mid-probe " +
      "surfaces as a successful retry, never as FileNotFoundException") {
    // A pointer claimed by a dead writer (no directory ever finalized)
    // blocks every commit at base+1. Two processes can race the reap of
    // that pointer; the loser's getFileStatus/delete then hits a
    // freshly-missing file. That is the DESIRED end state — commit must
    // retry and win, not leak FileNotFoundException.
    import org.apache.spark.sql.functions._
    import graft.storage.SnapshotCommit
    val tbl = "reap_race_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 10).select(col("id"), lit("v1").as("gen"))
        .coalesce(1).write.parquet(dir)
    }
    val root = SnapshotCommit.rootDir(spark, tbl)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The dead writer's artifact: pointer v2 naming a staging directory
    // that no longer exists and that nothing can ever recreate.
    val orphan = new org.apache.hadoop.fs.Path(root, "_commits/2")
    val out = fs.create(orphan, false)
    try out.write(".stage-dead-writer".getBytes("UTF-8")) finally out.close()
    assert(SnapshotCommit.currentVersion(spark, tbl) === Some(1L),
      "the dangling pointer must not resolve as current")
    val reaps = new java.util.concurrent.atomic.AtomicInteger(0)
    SnapshotCommit.failpoint = s => if (s == "reap") {
      reaps.incrementAndGet()
      // The concurrent reaper wins the race right here: the pointer is
      // gone before our probe stats/deletes it.
      fs.delete(orphan, false)
      ()
    }
    try {
      SnapshotCommit.commit(spark, tbl) { dir =>
        spark.range(10, 20).select(col("id"), lit("v2").as("gen"))
          .coalesce(1).write.parquet(dir)
      }
    } finally SnapshotCommit.failpoint = _ => ()
    assert(reaps.get() === 1, "the reap probe never ran")
    assert(SnapshotCommit.currentVersion(spark, tbl) === Some(2L))
    SnapshotCommit.register(spark, tbl)
    assert(spark.table(tbl).select("gen").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("v2"))
  }

  test("pointAt repairs a CREATE-race loser registered at a different " +
      "location with ALTER + REFRESH") {
    // The loser of a CREATE IF NOT EXISTS race falls through with the
    // winner's registration in place; when the winner created the table
    // at ANOTHER location, the shared alignment check must route the
    // loser through the ALTER + REFRESH repair — the deterministic
    // equivalent is a pre-existing registration at the other location.
    import org.apache.spark.sql.functions._
    import graft.storage.SnapshotCommit
    val tbl = "pointat_repair_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val base = SparkSpec.tempDir("graft_pointat").toString
    spark.range(0, 5).select(col("id"), lit("winner").as("gen"))
      .write.parquet(s"$base/locA")
    spark.range(0, 9).select(col("id"), lit("ours").as("gen"))
      .write.parquet(s"$base/locB")
    spark.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$base/locA'")
    assert(spark.table(tbl).count() === 5) // relation cache holds locA
    SnapshotCommit.pointAt(spark, tbl,
      new org.apache.hadoop.fs.Path(s"$base/locB"))
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    assert(new org.apache.hadoop.fs.Path(meta.location).toUri.getPath
      === s"$base/locB", "repair did not re-point the catalog entry")
    assert(spark.table(tbl).count() === 9,
      "stale relation cache survived the repair REFRESH")
    assert(spark.table(tbl).select("gen").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("ours"))
  }

  test("incarnation UUID rejects a destroy-and-rebuild whose createTime " +
      "aliases the dead incarnation's") {
    // createTime has ms resolution: a rebuild landing in the same
    // millisecond passes the createTime guard. The graft.incarnation
    // UUID stamped at CREATE is resolution-free. Forcing the rebuilt
    // entry's createTime equal to the original's isolates exactly that
    // guard.
    import org.apache.spark.sql.functions._
    import graft.storage.SnapshotCommit
    val tbl = "snap_ct_alias_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 8).select(col("id"), lit("one").as("gen"))
        .coalesce(1).write.parquet(dir)
    }
    assert(spark.table(tbl).count() === 8) // cache the incarnation-1 plan
    assert(SnapshotCommit.registrationFresh(spark, tbl, 1L),
      "session should be fast-path fresh right after commit + read")
    val cat = spark.sessionState.catalog
    val m1 = cat.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    // Simulate another process's destroy + rebuild through the SHARED
    // external catalog (this session's relation cache never hears about
    // it), with the createTime FORCED equal — the ms-alias case.
    val ext = spark.sharedState.externalCatalog
    val db = m1.identifier.database.getOrElse("default")
    ext.dropTable(db, tbl, ignoreIfNotExists = false, purge = false)
    ext.createTable(m1.copy(properties = m1.properties +
      ("graft.incarnation" -> java.util.UUID.randomUUID().toString)),
      ignoreIfExists = false)
    val m2 = cat.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    assert(m2.createTime === m1.createTime,
      "precondition: the rebuild must alias the original createTime")
    assert(!SnapshotCommit.registrationFresh(spark, tbl, 1L),
      "a same-path same-createTime rebuild passed the probe — only the " +
        "incarnation UUID can tell these apart")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("schema evolution across versions: a widened commit serves the new " +
      "column; time travel reads each version's own schema") {
    import org.apache.spark.sql.functions._
    import graft.storage.SnapshotCommit
    val tbl = "evolve_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 5).select(col("id"), lit("a").as("gen"))
        .coalesce(1).write.parquet(dir)
    }
    SnapshotCommit.register(spark, tbl)
    assert(spark.table(tbl).columns.toSeq === Seq("id", "gen"))
    // v2 widens the schema with a new column.
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(5, 9).select(col("id"), lit("b").as("gen"),
        (col("id") * 10).as("score"))
        .coalesce(1).write.parquet(dir)
    }
    SnapshotCommit.register(spark, tbl)
    assert(spark.table(tbl).columns.toSeq === Seq("id", "gen", "score"),
      "the evolved column must be visible after the widening commit")
    assert(spark.table(tbl).agg(sum(col("score"))).collect()(0).getLong(0)
      === (5L to 8L).map(_ * 10).sum)
    // Time travel: version directories are immutable and footer-schema'd,
    // so reading v1's resolved directory returns v1's OWN (narrower)
    // schema, untouched by the evolution.
    val v1dir = SnapshotCommit.resolveDir(spark, tbl, 1L).get
    assert(spark.read.parquet(v1dir.toString).columns.toSeq ===
      Seq("id", "gen"))
    // NARROWING (the RESTORE-to-pre-widening shape): dropping a column
    // must re-declare too — Spark's alterTableDataSchema refuses dropped
    // columns, and a throw here would brick the table AFTER the pointer
    // was already published (the fallback recreates the entry with the
    // same metadata).
    val incBefore = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .properties.get("graft.incarnation")
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(9, 12).select(col("id"))
        .coalesce(1).write.parquet(dir)
    }
    SnapshotCommit.register(spark, tbl)
    assert(spark.table(tbl).columns.toSeq === Seq("id"),
      "the narrowed schema must be visible — not a stale wide one")
    assert(spark.table(tbl).count() === 3)
    val incAfter = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .properties.get("graft.incarnation")
    assert(incBefore.isDefined && incBefore === incAfter,
      "the re-declare must preserve the incarnation UUID — this is the " +
        "same table's life, not a destroy/rebuild")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("shallow clone is zero-copy (shared inodes) and survives a source " +
      "vacuum") {
    import org.apache.spark.sql.functions._
    import graft.storage.{DeletionVectors, SnapshotCommit}
    val src = "clone_src_tbl"; val dst = "clone_dst_tbl"
    Seq(src, dst).foreach { t =>
      SnapshotCommit.destroy(spark, t)
    }
    SnapshotCommit.commit(spark, src) { dir =>
      spark.range(0, 100).select(col("id"), (col("id") * 2).as("v"))
        .coalesce(2).write.parquet(dir)
    }
    SnapshotCommit.register(spark, src)
    DeletionVectors.delete(spark, src, col("id") % 10 === 0)
    SnapshotCommit.clone(spark, src, dst)
    // Zero-copy: every cloned data file shares its inode with the source
    // file (a hard link, not a byte copy).
    def fileKeys(t: String) =
      SnapshotCommit.dataFiles(spark, t).map { case (n, p) =>
        n -> java.nio.file.Files.readAttributes(
          java.nio.file.Paths.get(p.toUri.getPath),
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
      }.toMap
    val srcKeys = fileKeys(src); val dstKeys = fileKeys(dst)
    assert(dstKeys.nonEmpty && dstKeys.forall { case (n, k) =>
      srcKeys.get(n).contains(k)
    }, s"clone files are copies, not links: src=$srcKeys dst=$dstKeys")
    // Divergence + durability: more deletes on src, then a vacuum that
    // rewrites/collects source files — the clone's hard links must keep
    // its bytes alive and its visible rows unchanged.
    DeletionVectors.delete(spark, src, col("id") % 7 === 0)
    DeletionVectors.vacuum(spark, src, cutoff = 2L)
    val cloneRows = DeletionVectors.read(spark, dst)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(cloneRows === (0L until 100L).filterNot(_ % 10 == 0).toSet,
      "clone must show exactly the clone-time state after source vacuum")
    Seq(src, dst).foreach(SnapshotCommit.destroy(spark, _))
  }

  test("clone rebases when concurrent source commits prune its resolved " +
      "version mid-carry") {
    import org.apache.spark.sql.functions._
    import graft.storage.SnapshotCommit
    val src = "clone_race_src"; val dst = "clone_race_dst"
    Seq(src, dst).foreach(SnapshotCommit.destroy(spark, _))
    def commitGen(gen: String): Unit = {
      SnapshotCommit.commit(spark, src) { dir =>
        spark.range(0, 20).select(col("id"), lit(gen).as("gen"))
          .coalesce(1).write.parquet(dir)
      }
      ()
    }
    commitGen("v1")
    val raced = new java.util.concurrent.atomic.AtomicInteger(0)
    SnapshotCommit.failpoint = s =>
      if (s == "clone" && raced.getAndIncrement() == 0) {
        // The race: after the clone resolved the current version but
        // before it carried a byte, source writers land TWO commits —
        // prune retains (current, current-1), deleting the version the
        // clone resolved. The first carry must fail and rebase.
        SnapshotCommit.failpoint = _ => () // the retry runs unharassed
        commitGen("v2")
        commitGen("v3")
      }
    try SnapshotCommit.clone(spark, src, dst)
    finally SnapshotCommit.failpoint = _ => ()
    assert(raced.get() >= 1, "the race window never fired")
    SnapshotCommit.register(spark, dst)
    // The published clone is the version that was intact through its
    // carry — the post-race current one.
    assert(spark.table(dst).select("gen").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("v3"))
    Seq(src, dst).foreach(SnapshotCommit.destroy(spark, _))
  }

  test("finalization rename race: a concurrent register() completing the " +
      "winner's rename must read as success, not FileNotFoundException") {
    // Two processes legally race the SAME staging -> v<N> rename: the
    // commit winner finalizing its claim, and any concurrent register()
    // replaying what it sees as an interrupted finalization. On a local
    // filesystem the loser's rename surfaces as FileNotFoundException
    // out of Hadoop's copy fallback (the CrossProcessSpec DV race hit
    // exactly this, writer A crashing mid-commit). Simulate the replayer
    // at the "finalize" failpoint — after the winner resolved its staging
    // dir, before its rename — by completing the rename ourselves.
    import org.apache.spark.sql.functions._
    import graft.storage.SnapshotCommit
    val tbl = "fin_race_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 10).select(col("id"), lit("v1").as("gen"))
        .coalesce(1).write.parquet(dir)
    }
    val root = SnapshotCommit.rootDir(spark, tbl)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val raced = new java.util.concurrent.atomic.AtomicInteger(0)
    SnapshotCommit.failpoint = s => if (s == "finalize") {
      // The concurrent replayer wins the rename right here.
      SnapshotCommit.resolveDir(spark, tbl, 2L).foreach { staged =>
        val vd = new org.apache.hadoop.fs.Path(root, "v2")
        if (staged != vd && fs.rename(staged, vd))
          raced.incrementAndGet()
      }
    }
    try {
      SnapshotCommit.commit(spark, tbl) { dir =>
        spark.range(10, 20).select(col("id"), lit("v2").as("gen"))
          .coalesce(1).write.parquet(dir)
      }
    } finally SnapshotCommit.failpoint = _ => ()
    assert(raced.get() === 1, "the replayer's rename never ran")
    assert(SnapshotCommit.currentVersion(spark, tbl) === Some(2L))
    SnapshotCommit.register(spark, tbl)
    assert(spark.table(tbl).select("gen").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("v2"))
    SnapshotCommit.destroy(spark, tbl)
  }

  test("stats skipping: a range read plans a strict file subset, " +
      "no-stats falls back to every file, disjoint ranges plan zero") {
    import org.apache.spark.sql.functions._
    import graft.storage.{SnapshotCommit, StatsSkipping}
    val tbl = "stats_skip_tbl"
    SnapshotCommit.destroy(spark, tbl)
    StatsSkipping.commitWithStats(spark, tbl, "id") { stage =>
      spark.range(0, 8000).select(col("id"))
        .repartitionByRange(8, col("id")).sortWithinPartitions("id")
        .write.mode("overwrite").parquet(stage)
    }
    val all = SnapshotCommit.dataFiles(spark, tbl)
    assert(all.size === 8)
    // A ~one-file range must plan a strict subset.
    val narrow = StatsSkipping.survivingFiles(spark, tbl, "id", 100L, 200L)
    assert(narrow.nonEmpty && narrow.size < all.size,
      s"narrow range planned ${narrow.size}/${all.size} files")
    // The rows still come back exactly (skip, never filter).
    assert(StatsSkipping.readRange(spark, tbl, "id", 100L, 200L).count()
      === 101L)
    // Disjoint range: zero files, zero rows, no crash.
    assert(StatsSkipping.survivingFiles(spark, tbl, "id", 50000L, 60000L).isEmpty)
    assert(StatsSkipping.readRange(spark, tbl, "id", 50000L, 60000L)
      .count() === 0L)
    // Conservative fallback: delete the sidecar -> every file survives.
    val v = SnapshotCommit.register(spark, tbl).get
    val dir = SnapshotCommit.resolveDir(spark, tbl, v).get
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_stats"), false)
    assert(StatsSkipping.survivingFiles(spark, tbl, "id", 100L, 200L).size
      === all.size,
      "files without stats rows must be read conservatively")
    SnapshotCommit.destroy(spark, tbl)

    // A file whose stats column is ALL NULL gets no sidecar line and is
    // conservatively read (never a crash, never skipped): ids >= 1000
    // carry NULL keys and land in their own range partition.
    val tbl2 = "stats_skip_nulls_tbl"
    SnapshotCommit.destroy(spark, tbl2)
    StatsSkipping.commitWithStats(spark, tbl2, "k") { stage =>
      spark.range(0, 2000)
        .select(col("id"),
          when(col("id") < 1000, col("id")).as("k"))
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(stage)
    }
    val all2 = SnapshotCommit.dataFiles(spark, tbl2)
    assert(all2.size === 2)
    // A range disjoint from the stats-bearing file's [0,999]: only the
    // all-null file survives — conservatively read, never skipped, and
    // its missing sidecar line never crashes the parse.
    val nullOnly = StatsSkipping.survivingFiles(spark, tbl2, "k", 5000L, 6000L)
    assert(nullOnly.size === 1,
      s"expected only the conservative all-null file, got $nullOnly")
    assert(StatsSkipping.readRange(spark, tbl2, "k", 5000L, 6000L).count()
      === 0L)
    assert(StatsSkipping.readRange(spark, tbl2, "k", 0L, 10L).count() === 11L)
    SnapshotCommit.destroy(spark, tbl2)
  }

  test("stats skipping reads are snapshot-isolated across a concurrent " +
      "commit: a planned range read serves its resolved version") {
    import org.apache.spark.sql.functions._
    import graft.storage.{SnapshotCommit, StatsSkipping}
    val tbl = "stats_skip_iso_tbl"
    SnapshotCommit.destroy(spark, tbl)
    StatsSkipping.commitWithStats(spark, tbl, "id") { stage =>
      spark.range(0, 8000).select(col("id"))
        .repartitionByRange(8, col("id")).sortWithinPartitions("id")
        .write.mode("overwrite").parquet(stage)
    }
    // Plan against v1, but do NOT execute yet.
    val plannedAtV1 = StatsSkipping.readRange(spark, tbl, "id", 100L, 200L)
    // A second commit publishes v2 with DIFFERENT content (ids doubled).
    StatsSkipping.commitWithStats(spark, tbl, "id") { stage =>
      spark.range(0, 4000).select((col("id") * 2).as("id"))
        .repartitionByRange(8, col("id")).sortWithinPartitions("id")
        .write.mode("overwrite").parquet(stage)
    }
    // The v1-planned read still serves v1 rows: immutable files + the
    // prune retention of (current, current-1) make the old plan valid.
    assert(plannedAtV1.count() === 101L,
      "the pre-commit plan must keep serving its resolved version")
    // A FRESH read resolves v2: only even ids in [100, 200] now.
    assert(StatsSkipping.readRange(spark, tbl, "id", 100L, 200L).count()
      === 51L, "a fresh read must resolve the new current version")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("default-path stats skipping: an ordinary spark.table read with " +
      "a pushable predicate plans a strict file subset across typed " +
      "columns; everything else stays conservative") {
    import org.apache.spark.sql.functions._
    import graft.storage.{SnapshotCommit, StatsSkipping}
    val tbl = "dstats_rule_tbl"
    SnapshotCommit.destroy(spark, tbl)
    StatsSkipping.commitWithStats(spark, tbl, Seq("id", "d", "m", "s")) {
      stage =>
        spark.range(0, 8000).select(col("id"),
            date_add(lit("2020-01-01").cast("date"),
              (col("id") / 10).cast("int")).as("d"),
            (col("id").cast("decimal(18,4)") / 4)
              .cast("decimal(12,2)").as("m"),
            format_string("k%06d", col("id")).as("s"))
          .repartitionByRange(8, col("id")).sortWithinPartitions("id")
          .write.mode("overwrite").parquet(stage)
    }
    StatsSkipping.installRule(spark)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.sum
    val all = scannedFiles(spark.table(tbl))
    assert(all === 8)
    // BIGINT range — the clustered key: strict subset, exact rows.
    val q1 = spark.table(tbl).filter(col("id").between(100, 200))
    assert(scannedFiles(q1) < all, "long range did not prune")
    assert(q1.count() === 101)
    // DATE point predicate (epoch-day longs under the hood).
    val q2 = spark.table(tbl)
      .filter(col("d") === lit("2020-01-05").cast("date"))
    assert(scannedFiles(q2) < all, "date predicate did not prune")
    assert(q2.count() === 10)
    // DECIMAL bound (money): id/4 <= 25.00 -> ids 0..100.
    val q3 = spark.table(tbl)
      .filter(col("m") <= lit("25.00").cast("decimal(12,2)"))
    assert(scannedFiles(q3) < all, "decimal bound did not prune")
    assert(q3.count() === 101)
    // STRING equality (unsigned UTF-8 ordering, parquet's own).
    val q4 = spark.table(tbl).filter(col("s") === "k000150")
    assert(scannedFiles(q4) < all, "string predicate did not prune")
    assert(q4.count() === 1)
    // Disjoint range: zero files planned, zero rows, no crash.
    val q5 = spark.table(tbl).filter(col("id") > 100000)
    assert(scannedFiles(q5) === 0)
    assert(q5.count() === 0)
    // A predicate shape the extractor does not understand: every file
    // read (skip-only contract — correctness never depends on pruning).
    val q6 = spark.table(tbl).filter(col("id") % 2 === 0)
    assert(scannedFiles(q6) === all)
    assert(q6.count() === 4000)
    SnapshotCommit.destroy(spark, tbl)

    // Composes with b9's Z-ordered layout: a bound on the SECOND
    // clustered key prunes too (the lexicographic-sort failure mode).
    val tblZ = "dstats_rule_z_tbl"
    SnapshotCommit.destroy(spark, tblZ)
    StatsSkipping.commitWithStats(spark, tblZ, Seq("a", "b")) { stage =>
      graft.storage.ZOrder.layout(
          spark.range(0, 65536).select(
            (col("id") / 256).cast("long").as("a"),
            (col("id") % 256).as("b")),
          Seq("a", "b"), partitions = Some(16))
        .write.mode("overwrite").parquet(stage)
    }
    val qz = spark.table(tblZ).filter(col("b").between(0, 15))
    val zFiles = scannedFiles(qz)
    assert(zFiles > 0 && zFiles < 16,
      s"z-layout second-key prune planned $zFiles/16 files")
    assert(qz.count() === 256L * 16)
    SnapshotCommit.destroy(spark, tblZ)
  }

  test("stats sidecar survives the table lifecycle: DV delete, clone, " +
      "vacuum and compaction all keep default-path pruning alive") {
    import org.apache.spark.sql.functions._
    import graft.storage.{DeletionVectors, Optimize, SnapshotCommit, StatsSkipping}
    val tbl = "stats_life_tbl"
    val cln = "stats_life_cln"
    Seq(tbl, cln).foreach { t =>
      SnapshotCommit.destroy(spark, t)
    }
    StatsSkipping.commitWithStats(spark, tbl, "id") { stage =>
      spark.range(0, 8000).select(col("id"))
        .repartitionByRange(8, col("id")).sortWithinPartitions("id")
        .write.mode("overwrite").parquet(stage)
    }
    StatsSkipping.installRule(spark)
    // Data-file scan width, excluding the _dv sidecar's own scan.
    def scanned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles
            .count(p => !p.contains("/_dv/"))
      }.sum
    def narrow(t: String) =
      DeletionVectors.read(spark, t).filter(col("id").between(100, 200))
    assert(scanned(narrow(tbl)) < 8)
    // 1. DV DELETE: files carried by name, sidecar must carry too —
    //    and the pruned read subtracts the vector (no resurrections).
    DeletionVectors.delete(spark, tbl, col("id") % 10 === 0)
    val afterDelete = narrow(tbl)
    assert(scanned(afterDelete) < 8, "DV delete shed the stats sidecar")
    assert(afterDelete.count() === 90L) // 101 minus the 11 multiples of 10
    assert(StatsSkipping.readRange(spark, tbl, "id", 100L, 200L).count()
      === 90L, "readRange resurrected DV-deleted rows")
    // 2. SHALLOW CLONE: the clone prunes without any rebuild.
    SnapshotCommit.clone(spark, tbl, cln)
    val onClone = narrow(cln)
    assert(scanned(onClone) < 8, "clone shed the stats sidecar")
    assert(onClone.count() === 90L)
    // 3. VACUUM: affected files are REWRITTEN under new names — their
    //    stats must recompute from the new footers, and pruning holds.
    DeletionVectors.delete(spark, tbl, col("id") % 7 === 0)
    DeletionVectors.vacuum(spark, tbl, cutoff = 1)
    val afterVacuum = narrow(tbl)
    assert(scanned(afterVacuum) < 8, "vacuum shed the stats sidecar")
    assert(afterVacuum.count() === 77L) // minus 13 new multiples of 7 (140 was already gone)
    // 4. COMPACTION (on the clone): every file is a rewrite; stats
    //    recompute and a narrow range still skips files.
    val (_, after) = Optimize.compact(spark, cln,
      targetFileSize = Some(8L * 1024))
    assert(after > 1, s"compaction target too coarse for the pin: $after")
    val compacted = narrow(cln)
    assert(scanned(compacted) < after, "compaction shed the stats sidecar")
    assert(compacted.count() === 90L)
    Seq(tbl, cln).foreach { t =>
      SnapshotCommit.destroy(spark, t)
    }
  }

  test("stats skipping never mis-prunes on type edges: float stats " +
      "widen exactly, MILLIS timestamps normalize to micros, v1 " +
      "sidecars keep serving the Long API") {
    import org.apache.spark.sql.functions._
    import graft.storage.{SnapshotCommit, StatsSkipping}
    // FLOAT: 0.1f widened-to-double differs from the double 0.1 — the
    // sidecar must record the widened float so an exact-boundary
    // equality never skips the matching file.
    val tbl = "stats_float_tbl"
    SnapshotCommit.destroy(spark, tbl)
    StatsSkipping.commitWithStats(spark, tbl, "f") { stage =>
      def slice(from: Long, to: Long) = spark.range(from, to)
        // Divide promotes to double — cast back so the column (and its
        // footer stats) are genuinely FLOAT.
        .select(col("id"),
          (col("id") / 1000.0).cast("float").as("f"))
        .coalesce(1).write.mode("append").parquet(stage)
      slice(0, 101)   // file 1: f max is EXACTLY 0.1f — the edge
      slice(101, 200) // file 2: f min 0.101f
    }
    StatsSkipping.installRule(spark)
    val hit = spark.table(tbl).filter(col("f") === lit(0.1f))
    assert(hit.count() === 1L,
      "float boundary equality lost its row to a mis-decoded stat")
    SnapshotCommit.destroy(spark, tbl)
    // TIMESTAMP_MILLIS: footer stats are millis; catalyst literals are
    // micros — unnormalized they mismatch 1000x and prune everything.
    val tbl2 = "stats_ts_millis_tbl"
    SnapshotCommit.destroy(spark, tbl2)
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MILLIS")
    try StatsSkipping.commitWithStats(spark, tbl2, "ts") { stage =>
      spark.range(0, 100)
        .select(col("id"),
          expr("timestampadd(HOUR, id, timestamp'2020-01-01')").as("ts"))
        .repartitionByRange(2, col("id")).sortWithinPartitions("id")
        .write.mode("overwrite").parquet(stage)
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val late = spark.table(tbl2)
      .filter(col("ts") >= lit("2020-01-03").cast("timestamp"))
    assert(late.count() === 52L, // ids 48..99
      "MILLIS timestamp stats mis-pruned against micros literals")
    SnapshotCommit.destroy(spark, tbl2)
    // v1 sidecar upgrade: headerless 3-field lines still serve the
    // Long explicit API (no silent loss of pre-upgrade skipping).
    val v1 = StatsSkipping.parseStats("part-a.parquet\t100\t200\n")
    assert(v1("part-a.parquet").contains(StatsSkipping.V1Col))
    assert(StatsSkipping.intersects(
      v1("part-a.parquet")(StatsSkipping.V1Col), Some(150L), Some(300L)))
    assert(!StatsSkipping.intersects(
      v1("part-a.parquet")(StatsSkipping.V1Col), Some(201L), None))
  }

  test("OPTIMIZE ZORDER: a random-layout table gains default-path " +
      "skipping on every clustered key; values and live view unchanged") {
    import org.apache.spark.sql.functions._
    import graft.storage.{DeletionVectors, Optimize, SnapshotCommit, StatsSkipping}
    val tbl = "zopt_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 65536).select(
          (col("id") / 256).cast("long").as("a"),
          (col("id") % 256).as("b"))
        .repartition(16) // random: every file spans both key ranges
        .write.parquet(dir)
    }
    SnapshotCommit.register(spark, tbl)
    DeletionVectors.delete(spark, tbl, col("a") === 0L)
    val expected = DeletionVectors.read(spark, tbl)
      .filter(col("b").between(0, 15))
      .agg(count(lit(1)), sum(col("a")), sum(col("b"))).head()
    StatsSkipping.installRule(spark)
    def scanned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles
            .count(p => !p.contains("/_dv/"))
      }.sum
    // Before: no sidecar, random layout — every file planned.
    assert(scanned(spark.table(tbl).filter(col("b").between(0, 15))) === 16)
    Optimize.zorder(spark, tbl, Seq("a", "b"), partitions = Some(16))
    // After: a bound on the SECOND clustered key plans a strict subset
    // through the DEFAULT path...
    val q = spark.table(tbl).filter(col("b").between(0, 15))
    val w = scanned(q)
    assert(w > 0 && w < 16, s"zorder optimize planned $w/16 files")
    // ...the deletion vector folded in (a=0 stays gone, sidecar
    // dropped), and the live view is value-identical to pre-optimize.
    assert(currentSidecar(tbl).isEmpty)
    assert(q.agg(count(lit(1)), sum(col("a")), sum(col("b"))).head()
      === expected, "zorder optimize changed the live view's values")
    assert(q.filter(col("a") === 0L).count() === 0L,
      "folded DV rows resurrected by the re-layout")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("clone properties ordering: a failed clone never clobbers an " +
      "existing destination's properties; success adopts the source's") {
    import org.apache.spark.sql.functions._
    import graft.storage.SnapshotCommit
    val src = "clone_props_src"; val dst = "clone_props_dst"
    Seq(src, dst).foreach(SnapshotCommit.destroy(spark, _))
    SnapshotCommit.commit(spark, src) { dir =>
      spark.range(0, 10).select(col("id")).coalesce(1).write.parquet(dir)
    }
    SnapshotCommit.setProperties(spark, src, Map("origin" -> "src"))
    // dst pre-exists as its own table with its OWN properties.
    SnapshotCommit.commit(spark, dst) { dir =>
      spark.range(0, 3).select(col("id")).coalesce(1).write.parquet(dir)
    }
    SnapshotCommit.setProperties(spark, dst, Map("origin" -> "dst"))
    // Every attempt dies at the clone failpoint -> clone throws after
    // its bounded retries. The pre-existing properties must survive.
    SnapshotCommit.failpoint =
      s => if (s == "clone") sys.error("injected clone failure")
    try intercept[Exception](SnapshotCommit.clone(spark, src, dst))
    finally SnapshotCommit.failpoint = _ => ()
    assert(SnapshotCommit.properties(spark, dst).get("origin")
      === Some("dst"),
      "failed clone overwrote the existing destination's properties")
    // The same clone succeeding DOES adopt the source's properties.
    SnapshotCommit.clone(spark, src, dst)
    assert(SnapshotCommit.properties(spark, dst).get("origin")
      === Some("src"),
      "successful clone onto an existing table must adopt src properties")
    // Fresh destination: properties arrive with (or before) the publish.
    val dst2 = "clone_props_dst2"
    SnapshotCommit.destroy(spark, dst2)
    SnapshotCommit.clone(spark, src, dst2)
    assert(SnapshotCommit.properties(spark, dst2).get("origin")
      === Some("src"))
    // An EXISTING destination with NO properties of its own must not
    // take the fresh-dst pre-copy path: a failed clone would otherwise
    // leave the old dst data running under the SOURCE's properties.
    val dst3 = "clone_props_dst3"
    SnapshotCommit.destroy(spark, dst3)
    SnapshotCommit.commit(spark, dst3) { dir =>
      spark.range(0, 2).select(col("id")).coalesce(1).write.parquet(dir)
    }
    SnapshotCommit.failpoint =
      s => if (s == "clone") sys.error("injected clone failure")
    try intercept[Exception](SnapshotCommit.clone(spark, src, dst3))
    finally SnapshotCommit.failpoint = _ => ()
    assert(SnapshotCommit.properties(spark, dst3).isEmpty,
      "failed clone onto an existing (property-less) table adopted the " +
        "source's properties")
    // A failed FRESH-destination clone must not leave an orphan root
    // `_properties` sidecar for a later unrelated commit to inherit.
    val dst4 = "clone_props_dst4"
    SnapshotCommit.destroy(spark, dst4)
    SnapshotCommit.failpoint =
      s => if (s == "clone") sys.error("injected clone failure")
    try intercept[Exception](SnapshotCommit.clone(spark, src, dst4))
    finally SnapshotCommit.failpoint = _ => ()
    assert(SnapshotCommit.properties(spark, dst4).isEmpty,
      "failed fresh-dst clone left an orphan _properties sidecar")
    Seq(src, dst, dst2, dst3, dst4).foreach(SnapshotCommit.destroy(spark, _))
  }

  test("metadata-only aggregates: global min/max/count answer from the " +
      "sidecar with NO scan; every exactness bail-out keeps the scan") {
    import org.apache.spark.sql.functions._
    import graft.storage.{DeletionVectors, Optimize, SnapshotCommit, StatsSkipping}
    val tbl = "magg_rule_tbl"
    SnapshotCommit.destroy(spark, tbl)
    StatsSkipping.commitWithStats(spark, tbl, Seq("id", "d", "m", "x")) {
      stage =>
        spark.range(0, 8000).select(col("id"),
            date_add(lit("2020-01-01").cast("date"),
              (col("id") / 10).cast("int")).as("d"),
            (col("id").cast("decimal(18,4)") / 4)
              .cast("decimal(12,2)").as("m"),
            // a double column, and one that is null on a whole file's
            // id range — both bail-out probes below
            when(col("id") >= 1000, col("id").cast("double")).as("x"))
          .repartitionByRange(8, col("id")).sortWithinPartitions("id")
          .write.mode("overwrite").parquet(stage)
    }
    StatsSkipping.installRule(spark)
    // String probe, not a collect over the plan tree: a real aggregate
    // runs under AdaptiveSparkPlanExec, whose inner stages a tree
    // collect does not traverse — the FINAL plan string shows them.
    def scans(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      "Scan parquet".r.findAllIn(df.queryExecution.executedPlan
        .toString.split("== Initial Plan ==")(0)).length
    }

    // The answered family: BIGINT, DATE, DECIMAL, count(*) — no scan,
    // and the answers equal the scan-computed truth.
    val meta = spark.table(tbl).agg(
      min(col("id")).as("a"), max(col("id")).as("b"),
      min(col("d")).as("c"), max(col("d")).as("e"),
      max(col("m")).as("f"), count(lit(1)).as("g"))
    assert(scans(meta) === 0,
      s"metadata agg still scans:\n${meta.queryExecution.executedPlan}")
    val row = meta.collect()(0)
    assert(row.getLong(0) === 0L && row.getLong(1) === 7999L)
    assert(row.getDate(2).toString === "2020-01-01")
    assert(row.getDate(3).toString === "2022-03-10") // 2020-01-01 + 799d
    assert(row.getDecimal(4).toString === "1999.75")
    assert(row.getLong(5) === 8000L)

    // Bail-outs — each must KEEP the scan and stay correct:
    // a filter underneath (stats cannot see filtered rows),
    val filtered = spark.table(tbl).filter(col("id") < 100)
      .agg(count(lit(1)).as("n"))
    assert(scans(filtered) === 1, "filtered agg must scan")
    assert(filtered.collect()(0).getLong(0) === 100L)
    // count(col) (needs null counts the sidecar lacks),
    val countCol = spark.table(tbl).agg(count(col("x")).as("n"))
    assert(scans(countCol) === 1, "count(col) must scan")
    assert(countCol.collect()(0).getLong(0) === 7000L)
    // count(DISTINCT),
    val cd = spark.table(tbl).agg(countDistinct(col("d")).as("n"))
    assert(scans(cd) === 1, "count(distinct) must scan")
    // min/max on a double column (float-ordering answering bar),
    val dbl = spark.table(tbl).agg(max(col("x")).as("n"))
    assert(scans(dbl) === 1, "double max must scan")
    assert(dbl.collect()(0).getDouble(0) === 7999.0)
    // grouped aggregation,
    val grouped = spark.table(tbl).groupBy(col("d"))
      .agg(count(lit(1)).as("n"))
    assert(scans(grouped) === 1, "grouped agg must scan")
    // a sum (not an answerable function) mixed in: ALL-or-nothing.
    val mixed = spark.table(tbl)
      .agg(min(col("id")).as("a"), sum(col("id")).as("s"))
    assert(scans(mixed) === 1, "mixed answerable+sum must scan")

    // Lifecycle: the rewrite answers the RAW relation's semantics. A
    // DV delete does not change what a raw spark.table scan returns
    // (masking is the DV read API's join, which never matches this
    // pattern), so the metadata count must equal the raw scan before
    // AND after; compaction folds the DV in, rewrites files, and the
    // recomputed sidecar serves the new live truth — still scanless.
    DeletionVectors.delete(spark, tbl, col("id") % 10 === 0)
    val rawAfterDv = spark.table(tbl).agg(count(lit(1)).as("n"))
    assert(scans(rawAfterDv) === 0, "raw count after DV should still answer")
    assert(rawAfterDv.collect()(0).getLong(0) === 8000L,
      "raw-relation semantics: DV does not mask a raw table read")
    assert(DeletionVectors.read(spark, tbl).count() === 7200L,
      "the masked API is where deletes surface")
    Optimize.compact(spark, tbl)
    val afterCompact = spark.table(tbl).agg(
      count(lit(1)).as("n"), min(col("id")).as("a"), max(col("m")).as("f"))
    assert(scans(afterCompact) === 0,
      s"post-compact metadata agg should answer:\n${afterCompact.queryExecution.executedPlan}")
    val r2 = afterCompact.collect()(0)
    assert(r2.getLong(0) === 7200L)
    assert(r2.getLong(1) === 1L)
    assert(r2.getDecimal(2).toString === "1999.75")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("partitioned layout: partition pruning and sidecar file skipping " +
      "COMPOSE on an ordinary filtered read") {
    import org.apache.spark.sql.functions._
    import graft.storage.StatsSkipping
    val tbl = "part_stats_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.core.CatalogUtil.dropOrphanLocation(spark, tbl)
    // 4 hive partitions x 4 range-clustered files each: (p, id) ranges
    // are disjoint per file, so a point-ish id probe within one
    // partition should land in ONE of its 4 files.
    spark.range(0, 8000)
      .select((col("id") % 4).as("p"), col("id"), (col("id") * 3).as("v"))
      .repartitionByRange(16, col("p"), col("id"))
      .sortWithinPartitions(col("p"), col("id"))
      .write.partitionBy("p").format("parquet").saveAsTable(tbl)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location)
    val leaves = StatsSkipping.indexLeafDirs(spark, loc, Seq("id"))
    assert(leaves === 4, s"expected 4 partition leaf dirs, got $leaves")
    StatsSkipping.installRule(spark)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(sys.error("no file scan in plan"))
    }
    // Partition pruning alone (no data-column bound) reads every file
    // of p=2 — Spark's own pruning, intact under the rule. The file
    // count per partition is sample-driven (repartitionByRange), so
    // measure it rather than assume it.
    val pOnly = spark.table(tbl).filter(col("p") === 2)
    val pFiles = scannedFiles(pOnly)
    assert(pFiles >= 3, s"fixture wants several files in p=2, got $pFiles")
    assert(pOnly.count() === 2000)
    // id % 4 == 2 rows live only in partition p=2; a narrow id window
    // intersects at most a couple of its range files — the composed
    // read scans a STRICT subset of the partition's files.
    val q = spark.table(tbl)
      .filter(col("p") === 2 && col("id").between(4000, 4200))
    val n = scannedFiles(q)
    assert(n <= 2 && n < pFiles,
      s"partition pruning + stats skipping should compose: " +
        s"$n of $pFiles files scanned")
    assert(q.count() ===
      spark.range(4000, 4201).filter(col("id") % 4 === 2).count())
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("metadata-only count THROUGH the DV mask: scan-free after a " +
      "delete, exact across restore and time travel, bails on non-count") {
    import org.apache.spark.sql.functions._
    import graft.storage.{DeletionVectors, SnapshotCommit, StatsSkipping}
    val tbl = "magg_dv_tbl"
    SnapshotCommit.destroy(spark, tbl)
    StatsSkipping.commitWithStats(spark, tbl, "id") { stage =>
      spark.range(0, 5000).select(col("id"), (col("id") % 7).as("g"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.parquet(stage)
    }
    StatsSkipping.installRule(spark)
    def scans(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      "Scan parquet".r.findAllIn(df.queryExecution.executedPlan
        .toString.split("== Initial Plan ==")(0)).length
    }
    val v1 = DeletionVectors.delete(spark, tbl, col("id") % 10 === 0)
    DeletionVectors.delete(spark, tbl, col("id") % 9 === 0) // overlaps at %90
    // LIVE count: scan-free — only the bounded _dv sidecar is read
    // (the sidecar relation still counts as one "Scan parquet"; the
    // DATA relation's scan must be gone, so exactly 1 scan survives
    // where the unrewritten plan has 2).
    val live = DeletionVectors.read(spark, tbl).agg(count(lit(1)).as("n"))
    assert(scans(live) === 1,
      s"DV-masked count should lose the data scan:\n${live.queryExecution.executedPlan}")
    // 5000 - multiples of 10 (500) - multiples of 9 (556) + multiples
    // of 90 (56): distinct-coordinate subtraction, re-deleted rows
    // counted once.
    assert(live.collect()(0).getLong(0) === 5000L - 500L - 556L + 56L)
    // Time travel: readAt(v1) keeps its v <= v1 filter in the rewrite.
    val at1 = DeletionVectors.readAt(spark, tbl, v1)
      .agg(count(lit(1)).as("n"))
    assert(scans(at1) === 1, "time-travel count should also be scan-free")
    assert(at1.collect()(0).getLong(0) === 4500L)
    // RESTORE drops the second delete: exact again, still scan-free.
    DeletionVectors.restore(spark, tbl, v1)
    val restored = DeletionVectors.read(spark, tbl)
      .agg(count(lit(1)).as("n"))
    assert(scans(restored) === 1)
    assert(restored.collect()(0).getLong(0) === 4500L)
    // Bail-outs: min/max under deletes must SCAN (a deleted row might
    // hold the extremum); so must a filtered count.
    val mm = DeletionVectors.read(spark, tbl).agg(max(col("id")).as("m"))
    assert(scans(mm) === 2, "min/max under DVs must keep the data scan")
    val filtered = DeletionVectors.read(spark, tbl)
      .filter(col("g") === 3).agg(count(lit(1)).as("n"))
    assert(filtered.collect()(0).getLong(0) ===
      spark.range(0, 5000).filter(col("id") % 10 =!= 0 && col("id") % 7 === 3)
        .count())
    SnapshotCommit.destroy(spark, tbl)
  }

  test("DML probe IO prunes through stats skipping: DELETE/UPDATE/MERGE " +
      "on a clustered key read a file subset, not the table") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit, StatsSkipping}
    // Identical 8-file range-clustered fixtures, one WITH the stats
    // sidecar and one WITHOUT: the same statements run on both under a
    // bytes-read meter, so "probe prunes" is pinned as a before/after
    // IO ratio (the r15 verdict's open scale term — write IO was proven
    // file-proportional, probe READ IO was not).
    val tblS = "dml_probe_stats_tbl"
    val tblN = "dml_probe_nostats_tbl"
    def build(tbl: String, withStats: Boolean): Unit = {
      SnapshotCommit.destroy(spark, tbl)
      def write(dir: String): Unit =
        spark.range(0, 320000)
          .select(col("id"), (col("id") * 3).as("v"))
          .repartitionByRange(32, col("id")).sortWithinPartitions("id")
          .write.parquet(dir)
      if (withStats) StatsSkipping.commitWithStats(spark, tbl, "id")(write)
      else SnapshotCommit.commit(spark, tbl)(write)
    }
    build(tblS, withStats = true)
    build(tblN, withStats = false)
    StatsSkipping.installRule(spark)
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      })
    def measured(f: => Unit): Long = {
      Thread.sleep(100); bytes.set(0L)
      f
      Thread.sleep(200) // drain the async listener bus
      bytes.get()
    }
    // The probe SHAPE the optimizer must prune: the UPDATE/DELETE
    // predicate pushes through the provenance projection to the scan,
    // where the sidecar leaves only the intersecting file(s).
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val ns = df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }
      assert(ns.nonEmpty, "no file scan in plan"); ns.max
    }
    // Shuffle-free shape (no distinct) so the scan is directly visible
    // in the executed plan — the distinct only dedups the probe OUTPUT,
    // never what it reads.
    val probe = DeletionVectors.readWithProvenance(spark, tblS, "_gf")
      .filter(col("id").between(10000L, 19999L))
      .select("_gf")
    // A ~3% id window over 32 range files intersects 1-2 files plus
    // range-sampling wobble: a strict subset is the property.
    val probeFiles = scannedFiles(probe)
    assert(probeFiles <= 3,
      s"UPDATE/DELETE probe must plan a pruned file list, got $probeFiles/32")
    // End-to-end: the SAME statements, stats vs no stats. Each touches
    // one file's id range; the stats table's IO must be well under the
    // no-stats table's (which scans all 8 files in its probes).
    def statements(tbl: String): Seq[String] = Seq(
      s"DELETE FROM $tbl WHERE id >= 70000 AND id < 70100",
      s"UPDATE $tbl SET v = v + 1 WHERE id >= 10000 AND id < 10100",
      s"MERGE INTO $tbl USING dml_probe_src ON $tbl.id = " +
        "dml_probe_src.id WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    spark.range(20000, 20100).select(col("id"), lit(-1L).as("v"))
      .createOrReplaceTempView("dml_probe_src")
    val ioS = statements(tblS).map(s =>
      measured(GraftSqlParser.sql(spark, s)))
    val ioN = statements(tblN).map(s =>
      measured(GraftSqlParser.sql(spark, s)))
    // Expected bands: DELETE ~0.06x (pure probe — a DV mark moves no
    // data); UPDATE/MERGE ~0.55x (the touched-file rewrite read is
    // legitimate and identical on both tables, so it floors the ratio
    // at this 32-file toy scale). These tables do NOT set
    // delta.enableChangeDataFeed, so no CDC image recording rides on
    // the statements — the default DML path stays lean (r17: image
    // recording is property-gated, Delta's rule). Thresholds leave
    // ~15% headroom for the async task-metrics meter's smear under a
    // parallel suite run.
    Seq("DELETE" -> 0.3, "UPDATE" -> 0.7, "MERGE" -> 0.7)
      .zip(ioS.zip(ioN)).foreach { case ((op, bound), (s, n)) =>
        info(f"$op statement IO: $s bytes with stats sidecar vs $n " +
          f"without (${s.toDouble / n}%.2fx)")
        assert(s < n * bound,
          s"$op probe must prune through stats: $s bytes with sidecar " +
            s"vs $n without (bound ${bound}x)")
      }
    // Same final state on both tables — pruning is IO-only.
    val liveS = DeletionVectors.read(spark, tblS)
    val liveN = DeletionVectors.read(spark, tblN)
    assert(liveS.count() === liveN.count())
    assert(liveS.agg(sum(col("v"))).head().getLong(0) ===
      liveN.agg(sum(col("v"))).head().getLong(0))
    Seq(tblS, tblN).foreach { t =>
      SnapshotCommit.destroy(spark, t)
    }
  }

  test("change-feed delete arm scans only the files carrying in-range " +
      "deletes") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit}
    // 32-file range-clustered table; the DELETE's id window lands in
    // 1-2 of them. The feed request must plan its delete arm over
    // exactly those files (r18: the coordinates name them), not the
    // table — the scan's file count is the pin.
    val tbl = "cdc_prune_tbl"
    SnapshotCommit.destroy(spark, tbl)
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, 320000)
        .select(col("id"), (col("id") * 3).as("v"))
        .repartitionByRange(32, col("id")).sortWithinPartitions("id")
        .write.parquet(dir)
    }
    SnapshotCommit.register(spark, tbl)
    GraftSqlParser.sql(spark,
      s"DELETE FROM $tbl WHERE id >= 70000 AND id < 70100")
    def feed(): org.apache.spark.sql.DataFrame = GraftSqlParser.sql(
      spark, s"SELECT id, v, change_type, commit_version FROM " +
        s"table_changes('$tbl', 0, 1)")
    def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.{
        AdaptiveSparkPlanExec, QueryStageExec}
      // Plan-shape pin: the scan's FILE INDEX size (what the arm was
      // built over), not the runtime numFiles metric — driver-posted
      // metrics do not survive on this plan handle under AQE.
      def scans(p: SparkPlan): Seq[Long] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case f: FileSourceScanExec =>
          Seq(f.relation.location.inputFiles.length.toLong)
        case other => other.children.flatMap(scans)
      }
      val ns = scans(df.queryExecution.executedPlan)
      assert(ns.nonEmpty, "no file scan in the feed plan"); ns.max
    }
    def checkRows(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      assert(rows.length === 100)
      assert(rows.forall { case (id, v, ct, cv) =>
        id >= 70000 && id < 70100 && v == id * 3 &&
          ct == "delete" && cv == 1L })
    }
    val arm = feed()
    checkRows(arm)
    val files = scanFiles(arm)
    assert(files <= 3,
      s"delete-arm scan must read the touched files, got $files/32")
    SnapshotCommit.destroy(spark, tbl)
  }

  test("a deletion vector above 1 MiB is read and written on the driver: " +
      "RESTORE and the change-feed plan run no job, DELETE one") {
    import org.apache.spark.sql.functions._
    import graft.storage.{DeletionVectors, SnapshotCommit}
    // Every DML stamp reads the whole sidecar on the driver, at any
    // size. Above 1 MiB, where older builds moved DELETE, RESTORE and
    // the change feed to Spark jobs, they add no job around that read.
    val tbl = "dv_large_tbl"
    SnapshotCommit.destroy(spark, tbl)
    val n = 800000L
    SnapshotCommit.commit(spark, tbl) { dir =>
      spark.range(0, n, 1, 8).select(col("id"), (col("id") * 3).as("v"))
        .write.parquet(dir)
    }
    SnapshotCommit.register(spark, tbl)
    val first = pmod(xxhash64(col("id")), lit(2L)) === 0L
    val second = col("id") % 1000 === 7L
    val v1 = DeletionVectors.delete(spark, tbl, first)
    val dv = new org.apache.hadoop.fs.Path(
      SnapshotCommit.currentLocation(spark, tbl).get, "_dv")
    val dvBytes = dv.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dv).filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    assert(dvBytes > (1L << 20), s"the sidecar must exceed 1 MiB: $dvBytes")

    val (delJobs, v2) = jobsOf(DeletionVectors.delete(spark, tbl, second))
    assert(delJobs.size <= 1, delJobs.mkString("\n"))
    val (feedJobs, feed) =
      jobsOf(DeletionVectors.changesBetween(spark, tbl, v1, v2))
    assert(feedJobs.isEmpty, feedJobs.mkString("\n"))
    // First-delete semantics: the rows the first delete already removed
    // are not in the second version's feed.
    val raw = spark.range(0, n).toDF()
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    val fed = feed.collect()
    val want = ids(raw.filter(second && !first))
    assert(fed.length === want.size)
    assert(fed.map(_.getLong(0)).toSet === want)
    assert(fed.forall(r => r.getLong(1) == r.getLong(0) * 3 &&
      r.getString(2) == "delete" && r.getLong(3) == v2))

    val (rstJobs, _) = jobsOf(DeletionVectors.restore(spark, tbl, v1))
    assert(rstJobs.isEmpty, rstJobs.mkString("\n"))
    assert(DeletionVectors.read(spark, tbl).count() ===
      raw.filter(!first).count())
    SnapshotCommit.destroy(spark, tbl)
  }

  test("metadata-only DV count bails on a mis-keyed hand-built " +
      "anti-join (duplicated key columns keep their scan)") {
    import org.apache.spark.sql.functions._
    import graft.storage.{DeletionVectors, SnapshotCommit, StatsSkipping}
    val tbl = "magg_miskey_tbl"
    SnapshotCommit.destroy(spark, tbl)
    StatsSkipping.commitWithStats(spark, tbl, "id") { stage =>
      spark.range(0, 1000).select(col("id"), (col("id") % 7).as("g"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.parquet(stage)
    }
    StatsSkipping.installRule(spark)
    DeletionVectors.delete(spark, tbl, col("id") % 10 === 0)
    def scans(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      "Scan parquet".r.findAllIn(df.queryExecution.executedPlan
        .toString.split("== Initial Plan ==")(0)).length
    }
    // A hand-built anti-join that binds BOTH equalities to the file
    // column (ADVICE r15's mis-keyed shape): it anti-joins away every
    // row of any file with a DV entry — a DIFFERENT aggregate than the
    // DV count, so the rule must keep its scan and serve the join's own
    // (correct-for-this-join) value, never rewrite to `total - dv`.
    val dir = SnapshotCommit.currentLocation(spark, tbl).get
    val raw = spark.read.parquet(
      SnapshotCommit.listData(spark, dir).map(_.toString): _*)
    val dv = spark.read.parquet(new org.apache.hadoop.fs.Path(dir, "_dv")
        .toString)
      .filter(col("p") >= 0)
      .select(col("f"), col("p"))
    val misKeyed = raw
      .withColumn("_dv_file",
        substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn("_dv_pos", col("_metadata.row_index"))
      .join(broadcast(dv.select(col("f").as("_dv_f"),
          col("p").as("_dv_p"))),
        col("_dv_file") === col("_dv_f") &&
          col("_dv_file") === col("_dv_f"),
        "left_anti")
      .drop("_dv_file", "_dv_pos")
      .agg(count(lit(1)).as("n"))
    assert(scans(misKeyed) === 2,
      s"mis-keyed anti-join must keep the data scan:\n" +
        s"${misKeyed.queryExecution.executedPlan}")
    // Every file holds a multiple of 10 -> the file-keyed anti-join
    // removes everything; the true DV count would be 900.
    assert(misKeyed.collect()(0).getLong(0) === 0L)
    // The PROPERLY-keyed read still rewrites scan-free.
    val good = DeletionVectors.read(spark, tbl).agg(count(lit(1)).as("n"))
    assert(scans(good) === 1)
    assert(good.collect()(0).getLong(0) === 900L)
    SnapshotCommit.destroy(spark, tbl)
  }

  test("touched-file SQL MERGE: 1 of N files rewritten, N-1 carried by " +
      "name; DV and stats sidecars survive the merge") {
    import org.apache.spark.sql.functions._
    import graft.ext.GraftSqlParser
    import graft.storage.{DeletionVectors, SnapshotCommit, StatsSkipping}
    val tbl = "merge_touch_tbl"
    SnapshotCommit.destroy(spark, tbl)
    // 4 range-clustered files over disjoint id ranges, with an `id`
    // stats sidecar — the committed-and-clustered layout a MERGE
    // target has in production.
    StatsSkipping.commitWithStats(spark, tbl, "id") { dir =>
      spark.range(0, 100).select(col("id"), (col("id") * 10).as("v"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.parquet(dir)
    }
    val before = SnapshotCommit
      .listData(spark, SnapshotCommit.currentLocation(spark, tbl).get)
      .map(_.getName).toSet
    assert(before.size === 4, s"fixture wants 4 files, got $before")
    // DV-hide a row in a file the merge will NOT touch: the carried
    // sidecar (not a fold-in rewrite) must keep masking it after.
    DeletionVectors.delete(spark, tbl, col("id") === 99)
    // Source touches keys 0..9 only — exactly ONE of the 4 range files.
    spark.range(0, 10).select(col("id"), lit(-1L).as("v"))
      .createOrReplaceTempView("merge_touch_src")
    GraftSqlParser.sql(spark,
      s"MERGE INTO $tbl USING merge_touch_src " +
        s"ON $tbl.id = merge_touch_src.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    SnapshotCommit.register(spark, tbl)
    val after = SnapshotCommit
      .listData(spark, SnapshotCommit.currentLocation(spark, tbl).get)
      .map(_.getName).toSet
    // THE 100 TB PROPERTY: write IO proportional to touched files, not
    // table size — N-1 files carried BY NAME, exactly one rewritten.
    assert((after intersect before).size === 3,
      s"expected 3 of 4 files carried by name; before=$before after=$after")
    assert((before diff after).size === 1,
      "exactly the touched file leaves the version")
    val live = DeletionVectors.read(spark, tbl)
    assert(live.count() === 99, "100 rows, one DV-masked")
    assert(live.filter(col("v") === -1L).count() === 10, "10 rows updated")
    assert(live.filter(col("id") === 99).count() === 0,
      "carried DV must still mask the untouched file's deleted row")
    // The skipping sidecar carried too: a clustered-key range probe
    // still plans a strict file subset after the merge.
    val pruned = StatsSkipping.survivingFiles(spark, tbl, "id", 60L, 70L)
    assert(pruned.size === 1,
      s"stats skipping must survive a MERGE, got ${pruned.size} files")
    SnapshotCommit.destroy(spark, tbl)
  }
}
