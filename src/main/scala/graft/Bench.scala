package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: one scan+noop initializes parquet reader, codegen
    // compiler and shuffle infra so the (otherwise arbitrary) first
    // measured query doesn't absorb one-time session costs.
    try spark.read.parquet(s"$sfDir/nation.parquet")
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    // The committed-medallion build (pipeline UPDATE) is timed as its OWN
    // entry rather than letting whichever gold query runs first absorb it:
    // in the lakehouse model the refresh is paid once per data generation
    // and the consumption queries (g6/g9) measure the committed-table READ
    // path. The build cost stays visible in the total — it is reported,
    // not hidden. On a warm warehouse (fingerprint match) this is ~0.
    val buildT0 = System.nanoTime()
    val buildEntry =
      try { graft.olist.OlistMaterialized.ensure(spark, sfDir)
            "g0_medallion_build" -> (System.nanoTime() - buildT0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] medallion build FAILED: $e")
        "g0_medallion_build" -> -((System.nanoTime() - buildT0) / 1e9) }
    // format("noop") fully evaluates every output column (unlike count(),
    // under which Catalyst prunes unevaluated projections) without the
    // parquet-encode cost distorting per-query times. Queries run in
    // name order so per-query numbers are comparable across rounds.
    // A failed query is reported as a NEGATIVE elapsed time and listed in
    // "errors" — a regression that breaks a query must never read as a
    // speedup.
    //
    // Each query is timed `runs` times and the MINIMUM is reported: a
    // single cold run is dominated by per-stage codegen/JIT at this
    // scale (r4 saw unchanged queries swing 1.2s <-> 6-9s with the JIT
    // warmup lottery), so the min-of-3 warm figure is the one that
    // tracks actual plan changes round over round.
    //
    // BURST IMMUNITY: the `runs` timings are taken as ROUND-ROBIN
    // PASSES over the whole catalog (pass 1 of every entry, then pass
    // 2, ...), not back-to-back repeats of one entry. This box's IO
    // bursts run for minutes (BASELINE.md's noise log; the r9 driver
    // artifact read 135.9 s against a 91.1 s same-binary best) — under
    // back-to-back repeats a burst sits on ALL runs of whichever
    // entries it overlaps, so their min is polluted and the artifact
    // misreads as a regression; interleaved, a burst costs every entry
    // at most the passes it spans and each entry's min comes from a
    // clean pass. JIT warm-up semantics are unchanged (pass 2 of an
    // entry still runs compiled code; codegen caches are per-plan, not
    // evicted between entries). CACHE-WARMTH SEMANTICS DID CHANGE,
    // though (r11→): an entry's passes 2..N no longer run immediately
    // after pass 1 with its OS page cache / persisted state hot, and in
    // isolate mode clearCache now runs before every (entry, pass), not
    // once per entry — so min-of-N figures from r11 onward form a NEW
    // baseline and are NOT 1:1 comparable with pre-r11 rounds (r11 read
    // ~1.4-1.7x on many sub-second CPU/scan-bound entries for this
    // reason alone; streaming entries, dominated by per-micro-batch
    // state commits, were unaffected or improved). BASELINE.md's
    // trajectory table carries the same note; compare rounds within a
    // protocol era only.
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // Local-iteration filter (comma-separated name prefixes). The driver
    // never sets it, so full-catalog behavior is unchanged.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith)) }
    // Opt-in tenancy isolation: evict every cached/persisted relation
    // between entries. The DEFAULT (off) matches all prior rounds'
    // shared-session sweep — entries that persist state (d6/d7 labels,
    // pr1 checkpoints, DV caches) tax their successors exactly as a
    // long-lived production session would, and the numbers stay
    // round-over-round comparable. Turning it on answers the triage
    // question "is this entry slow, or is it paying the sweep's
    // accumulated storage memory?" without a hand-built isolated run
    // (the r8 sf1.0 sweep measured j3 at 22.7 s in-sweep vs 10.3 s
    // isolated — that gap is what this knob exposes).
    val isolate = sys.env.get("SPARK_GRAFT_BENCH_ISOLATE").contains("1")
    val timesByName =
      scala.collection.mutable.Map.empty[String, Seq[Double]]
    // Per-entry TENANCY: MB of persisted blocks (cached RDDs/frames left
    // by EARLIER entries) in the block manager when this entry starts.
    // In the default shared-session sweep an entry's time includes the
    // cost of squeezing past that residue — exactly as in a long-lived
    // production session — so the full JSON carries the residue size
    // per entry, making "slow because the plan changed" vs "slow
    // because the sweep's storage memory was full" triageable from the
    // committed artifact alone (the question the r8 pr1/d7 regressions
    // took an isolated re-run to answer).
    val tenancyMB = scala.collection.mutable.Map.empty[String, Double]
    def persistedMB(): Double =
      spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1e6
    // Per-entry SHUFFLE VOLUME (MB written) and disk spill, summed from
    // completed-stage task metrics: the artifact-level evidence for the
    // shuffle-discipline claims (a plan change that doubles an entry's
    // shuffle shows up here even when wall time hides it in noise).
    // Listener delivery is async, so attribution is best-effort: deltas
    // are taken on pass 1 only, with a short post-entry drain pause
    // OUTSIDE the timed window; late events can only smear into the
    // next entry's delta, never into any reported time.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = e.stageInfo.taskMetrics
          if (m != null) {
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            spillBytes.addAndGet(m.diskBytesSpilled)
          }
        }
      })
    val shuffleMB = scala.collection.mutable.Map.empty[String, Double]
    val spillMB = scala.collection.mutable.Map.empty[String, Double]
    val passTimes = scala.collection.mutable.Map.empty[
      String, scala.collection.mutable.ArrayBuffer[Double]]
    val failedEntries = scala.collection.mutable.Set.empty[String]
    var pass = 1
    while (pass <= runs) {
      selected.foreach { case (name, fn) =>
        // An entry that failed in an earlier pass is not re-run: the
        // failure is the result (reported as its negative elapsed), and
        // repeating a multi-second failure `runs` times would only
        // stretch the sweep.
        if (!failedEntries.contains(name)) {
          if (isolate) {
            spark.catalog.clearCache()
            spark.sparkContext.getPersistentRDDs.values
              .foreach(_.unpersist(true))
          }
          if (pass == 1) tenancyMB(name) = persistedMB()
          val sh0 = shuffleBytes.get(); val sp0 = spillBytes.get()
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: $e"); false }
          val dt = (System.nanoTime() - t0) / 1e9
          if (pass == 1) {
            Thread.sleep(30) // drain the async listener bus (untimed)
            shuffleMB(name) = (shuffleBytes.get() - sh0) / 1e6
            spillMB(name) = (spillBytes.get() - sp0) / 1e6
          }
          if (!ok) failedEntries += name
          passTimes.getOrElseUpdate(name,
            scala.collection.mutable.ArrayBuffer.empty[Double]) +=
            (if (ok) dt else -dt)
        }
      }
      pass += 1
    }
    val results = buildEntry +: selected.map { case (name, _) =>
      val times = passTimes(name).toSeq
      timesByName(name) = times
      name -> (if (times.last < 0) times.last else times.min)
    }
    // Per-query SPREAD (max/min over the measured runs): separates
    // load-noise from plan regressions in the recorded full JSON — an
    // entry whose min matches last round but whose spread is 3 was a
    // busy machine, not a plan change. Full-JSON only (the compact
    // stdout line has a byte budget). Reading the field: in the r7
    // snapshot every spread>2 entry under 1 s min is codegen/JIT
    // warm-up on a near-instant plan (first run compiles, later runs
    // don't), not variance worth chasing; the only >1 s entries with
    // spread>2 — b3 (per-run table rebuild IO) and d2 (declared exact
    // baseline) — carry their own scaladoc notes.
    val spreads = results.collect {
      case (k, v) if v >= 0 && timesByName.get(k).exists(_.sizeIs > 1) =>
        val ts = timesByName(k)
        k -> ts.max / math.max(1e-9, ts.min)
    }
    // The driver records only the LAST 2000 chars of stdout and parses the
    // final line as JSON. The full per-query map (146 names summing to
    // >2100 chars alone) can never fit that window, so:
    //   1. The FULL JSON goes to files: target/bench.json (plus
    //      BENCH_LATEST.json in the repo root, which round snapshots
    //      commit, and /tmp/graft_bench.json as an absolute-path fallback).
    //   2. stdout ends with ONE COMPACT line, guaranteed under the window:
    //      totals + every error + the slowest queries that fit + the count
    //      and max time of the omitted (all-fast) remainder.
    // `showSuccess := false` in build.sbt keeps sbt from appending a
    // "[success]" trailer after this line.
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val errNames = results.collect { case (k, v) if v < 0 => k }
    def errJson(names: Seq[String]) =
      names.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map { case (_, v) => math.abs(v) }.sum
    def render(entries: Seq[(String, Double)], errors: String,
        extra: String): String = {
      val qs = entries.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + ms(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","runs":$runs,"sf":"$sfDir","errors":$errors$extra,"queries":$qs}"""
    }
    val spreadJson = spreads.sortBy(_._1)
      .map { case (k, v) =>
        "\"" + k + "\":" + "%.2f".formatLocal(java.util.Locale.ROOT, v) }
      .mkString("{", ",", "}")
    val tenancyJson = tenancyMB.toSeq.sortBy(_._1)
      .collect { case (k, v) if v >= 0.1 =>
        "\"" + k + "\":" + "%.1f".formatLocal(java.util.Locale.ROOT, v) }
      .mkString("{", ",", "}")
    def mbJson(m: scala.collection.Map[String, Double]): String =
      m.toSeq.sortBy(_._1)
        .collect { case (k, v) if v >= 0.1 =>
          "\"" + k + "\":" + "%.1f".formatLocal(java.util.Locale.ROOT, v) }
        .mkString("{", ",", "}")
    val fullJson = render(results, errJson(errNames),
      s""","n":${results.length},"spread":$spreadJson,"tenancy_mb":$tenancyJson""" +
        s""","shuffle_mb":${mbJson(shuffleMB)},"spill_mb":${mbJson(spillMB)}""")
    // A prefix-filtered run is a LOCAL-ITERATION artifact: it must never
    // overwrite the committed full-catalog snapshot (BENCH_LATEST.json) —
    // round 7's end-of-round commit did exactly that, replacing the
    // 146-entry catalog with a 14-entry subset and corrupting the
    // round-over-round evidence chain. Filtered runs land in
    // target/bench-partial.json only.
    val outPaths =
      if (only.isDefined)
        Seq("target/bench-partial.json",
            sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench_partial.json"))
      else
        Seq("target/bench.json", "BENCH_LATEST.json",
            sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json"))
    for (path <- outPaths) {
      try {
        val p = java.nio.file.Paths.get(path).toAbsolutePath
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, fullJson + "\n")
        System.err.println(s"[bench] full json written to $p")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: $e") }
    }
    // Compact line: failed entries live ONLY in the (budget-capped)
    // errors array — repeating them in the queries map would let a
    // many-failure run blow past the driver's 2000-char stdout tail
    // and yield parsed:null, the exact failure this line exists to
    // avoid. Passing entries are added slowest-first while the
    // rendered line stays under the budget; everything always lands in
    // the full-JSON files regardless.
    val budget = 1800
    val errShown = errNames.take(40)
    val errCompact = errJson(errShown)
    val errOmitted =
      if (errNames.sizeIs > errShown.size)
        s""","errors_omitted":${errNames.size - errShown.size}"""
      else ""
    val passing = results.filter(_._2 >= 0).sortBy(-_._2)
    var kept = passing.take(1)
    var i = 1
    def extraFor(k: Seq[(String, Double)]): String = {
      val omitted = results.filter(_._2 >= 0)
        .filterNot(r => k.exists(_._1 == r._1))
      val omax = if (omitted.isEmpty) 0.0 else omitted.map(r => math.abs(r._2)).max
      s"""$errOmitted,"n":${results.length},"omitted":${omitted.length},"omitted_max_sec":${ms(omax)},"full":"${outPaths.mkString(" ")}""""
    }
    while (i < passing.length &&
           render(kept :+ passing(i), errCompact,
             extraFor(kept :+ passing(i))).length < budget) {
      kept = kept :+ passing(i); i += 1
    }
    val compact = render(kept, errCompact, extraFor(kept))
    spark.stop()
    println(compact)
  }
}
