package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured-Streaming equivalents of the reference's incremental tables
  * (reference `scripts/bronze/bronze_ingestion.py:20-32` streaming ingest,
  * `scripts/silver/silver_products.py:119` streaming dedup) over the
  * `events` table, executed with Trigger.AvailableNow so a batch driver
  * can call them like any other query and compare against a batch oracle.
  *
  * Each helper starts a file-source stream over the parquet input, runs
  * it to completion into an in-memory sink, and returns the sink's
  * content as a DataFrame. Determinism: outputs are closed under
  * end-of-stream (complete-mode aggregates / final states / key sets), so
  * arrival order across micro-batches cannot change them.
  *
  * Scale notes: the file source shards listing+reads across executors;
  * windowed aggregation shuffles by (window) with partial aggregation
  * map-side; `dropDuplicates` and `mapGroupsWithState` keep per-key state
  * in the state store (RocksDB-backed on a real cluster). The reference
  * carries NO watermarks (SURVEY.md §2.8) — its state is unbounded; our
  * batch-parity queries mirror that, and production streams would add
  * `withWatermark` to bound state (the windowed variant shows the hook).
  */
object Streams {

  /** Child session scoped to one streaming helper run. Two settings must
    * be live session-wide when the stream STARTS:
    *
    *  - `nanosAsLong`: events.parquet carries TIMESTAMP(NANOS), read
    *    through the same legacy-long bridge the batch reader uses
    *    (Tables.eventsNorm);
    *  - `shuffle.partitions`: a stateful streaming query materializes one
    *    state-store instance per shuffle partition, so the count must be
    *    sized to key cardinality, not inherited from the batch shuffle
    *    default (per-partition store open/commit overhead dominates when
    *    keys are few; a real deployment sizes this once per pipeline and
    *    the count is frozen into the checkpoint at first run).
    *
    * Mutating the CALLER's session for either would leak into any query
    * planned concurrently on it (and two concurrent helpers could clobber
    * each other's restore) — so each run gets its own `newSession`:
    * shared SparkContext and catalog-backed tables, isolated conf and
    * temp-view namespace. The state-store provider is Spark's own
    * `spark.sql.streaming.stateStore.providerClass`: set as a Spark
    * property (`-D`/`--conf`), the SparkConf carries it into every
    * `newSession`.
    */
  private def eventsSession(spark: SparkSession, statePartitions: Int = 8): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ss.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    ss
  }

  /** Scratch-dir key for `sfDir`: lossy filesystem-safe sanitize plus a
    * hash of the full path, so distinct sf dirs can never share (or
    * collide on) a scratch dir. ONE copy — [[eventsStream]] and
    * [[documentsStream]] key their ordered-split caches with it, and
    * the two must never drift (a divergent key would silently split the
    * write-once cache per call site).
    */
  private def saneKey(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9._-]+", "_") +
      "-" + graft.core.Scratch.sha8(sfDir)

  /** Idempotent symlink ensure: make `linkDir/<target.fileName>` a
    * symlink to `target`. NOFOLLOW on the existence probe — a dangling
    * leftover link (target regenerated away) must read as PRESENT, not
    * absent, or the re-create throws FileAlreadyExists; and two
    * concurrent helpers legally race the create itself — the loser's
    * exception is the winner's success (the CommitLock pattern).
    * Exposed private[graft] so the race is deterministically pinned
    * (StreamsLinkSpec), not just exercised incidentally.
    */
  private[graft] def ensureSourceLink(linkDir: java.nio.file.Path,
      target: java.nio.file.Path): java.nio.file.Path = {
    java.nio.file.Files.createDirectories(linkDir)
    val link = linkDir.resolve(target.getFileName)
    if (!java.nio.file.Files.exists(link,
        java.nio.file.LinkOption.NOFOLLOW_LINKS))
      try java.nio.file.Files.createSymbolicLink(link, target)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    link
  }

  private def eventsStream(spark: SparkSession, sfDir: String,
      splitFiles: Int = 0, maxFilesPerTrigger: Int = 0,
      orderedSplit: Boolean = false): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // The file source requires a DIRECTORY; the testdata table is a single
    // file. Expose it through a scratch dir of symlinks (one-time, local
    // metadata only — no data copy), keyed by the sanitized dir path so
    // distinct sf dirs can never share (or collide on) a scratch dir.
    // splitFiles > 0 instead materializes that many parquet files (a
    // write-once copy) so maxFilesPerTrigger can spread AvailableNow
    // over several micro-batches.
    val sane = saneKey(sfDir)
    val dir =
      if (splitFiles > 0) {
        // Scratch.key like every write-once copy: regenerated data busts
        // the cache and stale generations are pruned post-_SUCCESS (the
        // symlink path below needs no key — it follows the source file).
        // orderedSplit range-partitions on event time so file k holds
        // time range k, then stamps STRICTLY INCREASING mtimes in part
        // order: the file source orders new files by modification time,
        // and ties (parallel write tasks land in the same ms) break
        // ARBITRARILY, not by path — measured delivering part-1,2
        // before part-0 and scrambling a watermarked state op. Distinct
        // mtimes make the consumption order total, so watermarks
        // advance MONOTONICALLY across micro-batches and nothing drops
        // as late — required by any watermarked stateful op that must
        // stay batch-deterministic under a multi-batch split.
        graft.core.Scratch.ensure(spark,
          s"streams/${sane}_split$splitFiles${if (orderedSplit) "ord" else ""}",
          graft.core.Scratch.key(spark, sfDir,
            schema.json + (if (orderedSplit) "|mtime-total-order" else "")),
          // An ordered generation is complete only once the mtimes are
          // STAMPED, not when the parquet write lands — parquet drops
          // its _SUCCESS before the stamping loop runs, so using it as
          // the marker let a crash in that window permanently cache an
          // UNORDERED generation (marker present, ties everywhere) that
          // every later run would consume in arbitrary order. The
          // ordered marker is touched by the closure as its LAST step;
          // its `_` prefix keeps it invisible to the file source.
          if (orderedSplit) "events/_graft_ordered"
          else "events/_SUCCESS") { gen =>
          val src = spark.read.parquet(s"$sfDir/events.parquet")
          val parts =
            if (orderedSplit) src.repartitionByRange(splitFiles, col("ts"))
            else src.repartition(splitFiles)
          val out = gen.resolve("events")
          parts.write.mode("overwrite").parquet(out.toString)
          if (orderedSplit) stampOrdered(out)
        }.resolve("events")
      } else {
        val link_dir =
          graft.core.Scratch.root(spark).resolve(s"streams/$sane/events")
        ensureSourceLink(link_dir,
          java.nio.file.Paths.get(s"$sfDir/events.parquet"))
        link_dir
      }
    val reader = spark.readStream.schema(schema)
    val throttled =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    val stream = throttled.parquet(dir.toString)
    // Shared ts normalization with the batch reader — one dispatch for
    // both paths, so a new generator encoding can never diverge them.
    graft.core.Tables.normalizeTs(stream)
  }

  /** Stamp a split directory's part files with STRICTLY INCREASING
    * mtimes in name order, then touch the `_graft_ordered` marker — the
    * ONE copy of the total-order trick both ordered splits (events by
    * ts, documents by doc_id) rely on. The file source orders new files
    * by modification time and breaks ties ARBITRARILY, so distinct
    * stamps make consumption order total; the marker is created LAST so
    * a crash mid-stamping can never cache an unordered generation
    * (parquet's _SUCCESS lands before this runs — see the ensure
    * call sites, which key their markers on `_graft_ordered`).
    */
  private def stampOrdered(out: java.nio.file.Path): Unit = {
    val listing = java.nio.file.Files.list(out)
    val names = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    try {
      val files = listing.iterator()
      while (files.hasNext) {
        val p = files.next()
        if (p.getFileName.toString.endsWith(".parquet")) names += p
      }
    } finally listing.close()
    val base = System.currentTimeMillis()
    names.sortBy(_.getFileName.toString).zipWithIndex.foreach {
      case (p, i) =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            base + (i + 1) * 2000L))
    }
    val done = out.resolve("_graft_ordered")
    if (!java.nio.file.Files.exists(done))
      java.nio.file.Files.createFile(done)
  }

  /** Run a finite (AvailableNow) stream into a memory sink, return it.
    * Pure with respect to session conf: any settings the stream needs
    * must already live on `df`'s session (see [[eventsSession]]).
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(name)
  }

  /** Tumbling-window aggregate (complete mode): per-hour event counts and
    * exact value sums. The `window` expression is the event-time path;
    * complete mode emits every window at end-of-stream.
    */
  def hourlyAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    val agg = eventsStream(ss, sfDir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    runToMemory(agg, "graft_stream_hourly", OutputMode.Complete())
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("n_events"), col("sum_value"))
  }

  /** Tumbling-window aggregate driven through MULTIPLE micro-batches:
    * the source is split into several files and throttled with
    * maxFilesPerTrigger, so AvailableNow executes a sequence of
    * incremental batches (each updating window state) instead of one
    * bulk batch. Complete mode emits the END state, which must be
    * IDENTICAL however the input was batched — the invariant that makes
    * incremental processing trustworthy, asserted here by sharing st1's
    * batch oracle. (This is also the configuration the rate-limited
    * production ingest runs: bounded work per trigger, state carrying
    * the rest.)
    */
  def multiBatchHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    val agg = eventsStream(ss, sfDir, splitFiles = 8, maxFilesPerTrigger = 2)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    runToMemory(agg, "graft_stream_multibatch", OutputMode.Complete())
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("n_events"), col("sum_value"))
  }

  /** SLIDING-window aggregate (complete mode): 2-hour windows every hour,
    * so each event lands in exactly size/slide = 2 windows — the overlap
    * is the point (smoothing/trailing metrics). Spark assigns an event to
    * windows starting at floor(ts, slide) - k*slide, k < size/slide, all
    * epoch-aligned; the batch oracle reproduces that assignment with
    * integer µs arithmetic. Scale: the fan-out is a per-row explode
    * (factor size/slide) before the same partial-agg shuffle as tumbling
    * windows — state is per-window, bounded by the time span, not the
    * stream.
    */
  def slidingHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    val agg = eventsStream(ss, sfDir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    runToMemory(agg, "graft_stream_sliding", OutputMode.Complete())
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("n_events"), col("sum_value"))
  }

  /** Watermarked tumbling-window aggregate in APPEND mode: only windows
    * the 2-hour watermark has closed are emitted — the state-bounding
    * discipline the reference lacks (SURVEY §2.8: no watermarks anywhere,
    * hence unbounded state). With AvailableNow the final no-data batch
    * advances the watermark to max(event_time) - delay and flushes every
    * closed window; the open tail windows are retained (not emitted),
    * exactly as they would be on a live stream.
    */
  def watermarkedHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    val agg = eventsStream(ss, sfDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
    runToMemory(agg, "graft_stream_wm", OutputMode.Append())
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("n_events"))
  }

  /** Stream-stream inner join with watermarks on both sides and an
    * event-time range condition — the reference's reviews-joins-orders
    * stream-stream join (J2, `scripts/silver/order_reviews.py:50-52`),
    * which runs watermark-less only on Databricks' engine; OSS Spark
    * requires the watermarks + time bound that bound join state
    * (SURVEY §2.8). Pairs each purchase with the same user's signups in
    * the preceding 24h. With AvailableNow + no late data the emitted
    * matches are exactly the batch join result, so the oracle is the
    * plain SQL join.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    val events = eventsStream(ss, sfDir)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"),
        col("user_id").as("s_user_id"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val joined = purchases.join(signups,
      col("user_id") === col("s_user_id")
        && col("p_ts") >= col("s_ts")
        && col("p_ts") <= col("s_ts") + expr("INTERVAL 24 HOURS"))
    runToMemory(joined, "graft_stream_join", OutputMode.Append())
      .select(col("purchase_id"), col("signup_id"), col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("s_ts"))).as("lag_us"))
  }

  /** LEFT-OUTER stream-stream join: every signup, paired with the same
    * user's purchases in the following 24h — or null-extended once the
    * watermark PROVES no such purchase can still arrive. This is the
    * semantics inner joins can't give a stream: "did the signup convert"
    * needs a definitive no, and the watermark is what licenses one
    * (state for a signup is held until `s_ts + 24h` falls behind the
    * global watermark, then emitted unmatched exactly once).
    *
    * Determinism requires the watermark to actually overtake every held
    * row, so the source is split into multiple micro-batches (watermark
    * advances between them) and AvailableNow's closing no-data batch
    * flushes the rest against the final watermark min(max p_ts, max
    * s_ts) - 1h. Rows whose expiry has NOT passed that final watermark
    * (the stream's open tail) are retained in state, not emitted — the
    * oracle reproduces that boundary with the same floor-to-millisecond
    * arithmetic Spark tracks watermarks in.
    */
  def streamStreamLeftJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // 4 state partitions: the left-outer join keeps FOUR state stores
    // per partition (two per side), each opened+committed every
    // micro-batch — at harness key counts the store lifecycle dwarfs the
    // probe work, so fewer, larger state partitions win. A deployment
    // sizes this to its key volume once; the count freezes into the
    // checkpoint.
    val ss = eventsSession(spark, statePartitions = 4)
    // 4 files / 2 per trigger = 2 data batches + the closing no-data
    // batch: the watermark still advances BETWEEN batches (the multi-
    // batch invariant under test), but each extra micro-batch costs a
    // full state-store open/commit cycle across every partition, and the
    // emitted set is defined by the FINAL watermark alone — more batches
    // only re-prove the same boundary at harness cost (this entry was
    // the bench's slowest streaming floor at 4 data batches).
    val events = eventsStream(ss, sfDir, splitFiles = 4, maxFilesPerTrigger = 2,
      orderedSplit = true)
    val signups = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = signups.join(purchases,
      col("user_id") === col("p_user_id")
        && col("p_ts") >= col("s_ts")
        && col("p_ts") <= col("s_ts") + expr("INTERVAL 24 HOURS"),
      "left_outer")
    runToMemory(joined, "graft_stream_left_join", OutputMode.Append())
      .select(col("signup_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("s_ts"))).as("lag_us"))
  }

  /** Session-window aggregate (complete mode): per-user sessions closed
    * by an inactivity gap. `session_window` opens [ts, ts+gap) per event
    * and merges overlapping intervals, so two events share a session iff
    * their spacing is STRICTLY below the gap, and the session end is
    * last-event + gap — the exact gaps-and-islands semantics the batch
    * oracle recomputes. Complete mode emits every merged session at
    * end-of-stream, so micro-batch boundaries cannot change the result
    * (session state merges across batches). Outputs exact microsecond
    * bounds (BIGINT) rather than formatted timestamps.
    */
  def sessionAgg(spark: SparkSession, sfDir: String,
      gap: String = "8 hours"): DataFrame = {
    val ss = eventsSession(spark)
    val agg = eventsStream(ss, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    runToMemory(agg, "graft_stream_session", OutputMode.Complete())
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("sum_value"))
  }

  /** Streaming deduplication: stateful dropDuplicates over the key
    * columns; the emitted first-seen rows projected to the key set are
    * order-independent. (Unbounded state, as in the reference; a
    * watermarked variant would use dropDuplicatesWithinWatermark.)
    */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    val dedup = eventsStream(ss, sfDir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    runToMemory(dedup, "graft_stream_dedup", OutputMode.Append())
      .select(col("user_id"), col("event_type"))
  }

  /** Watermarked streaming dedup (`dropDuplicatesWithinWatermark`): the
    * state-BOUNDED variant of [[streamDedup]] — per-key state is evicted
    * once the watermark passes it, which is what makes streaming dedup
    * survive an unbounded stream (plain dropDuplicates keeps state
    * forever). Duplicates arriving inside the watermark horizon are
    * dropped.
    *
    * Oracle equivalence (batch DISTINCT) requires every duplicate of a
    * key to arrive before the watermark evicts its state. That must hold
    * for ANY micro-batching of the finite input — AvailableNow splits on
    * file/size boundaries, and the watermark advances between batches —
    * so the delay is set beyond the whole event-time span of the harness
    * table (~31 days): no eviction can occur mid-run, and the emitted key
    * set equals batch DISTINCT regardless of how the input is batched.
    * A live deployment would instead size the delay to its real late-data
    * horizon and accept re-emission past it (that IS the semantics of
    * within-watermark dedup).
    */
  def streamDedupWatermarked(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    val dedup = eventsStream(ss, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "60 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    runToMemory(dedup, "graft_stream_dedup_wm", OutputMode.Append())
      .select(col("user_id"), col("event_type"))
  }

  /** Stream-static join: the streaming fact enriched against a batch
    * dimension — the reference's core incremental shape (a silver
    * stream joining a static lookup, e.g. the seller state map). The
    * static side is re-read per micro-batch and BROADCAST, so the
    * stream side never shuffles for the join (stateless — unlike the
    * stream-stream join, no join state at all); the only stateful op
    * is the downstream complete-mode aggregate, keyed by the (tiny)
    * nation cardinality. At 100 TB/day the same plan holds: broadcast
    * dim, map-side join, partial agg before the one shuffle.
    */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    val dim = ss.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    val enriched = eventsStream(ss, sfDir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    runToMemory(enriched, "graft_stream_static", OutputMode.Complete())
      .select(col("c_nationkey"), col("n_events"), col("sum_value"))
  }

  // Public: Catalyst's generated (de)serializers need access.
  final case class UserEvent(user_id: Long, value: Double)
  final case class UserState(n: Long, maxValue: Double)
  // Carries the raw watermarked `ts` alongside the µs value: the
  // watermark is attribute metadata, so the timestamp column must
  // SURVIVE the projection into the Dataset or the event-time timeout
  // has no clock to run on.
  final case class TsEvent(user_id: Long, us: Long, ts: java.sql.Timestamp)
  final case class SessionState(startUs: Long, lastUs: Long, n: Long)
  final case class ClosedSession(user_id: Long, session_start_us: Long,
      session_last_us: Long, n_events: Long)
  final case class ValEvent(user_id: Long, event_id: Long, us: Long,
      value: Double)
  // Ring of the <=20 most recent values, quantized to micro-units (the
  // DECIMAL(18,6) grid the batch twin sums on) so the state is exact
  // integers and the replayed base_sum matches w14 bit-for-bit.
  final case class AnomalyState(ring: Array[Long])
  final case class AnomalyHit(user_id: Long, event_id: Long, t_us: Long,
      value: Double, n_base: Long, base_sum: Double)

  /** Custom stateful processing via mapGroupsWithState: per-user running
    * (count, max) updated each micro-batch; update-mode emissions are
    * post-aggregated to the final state per key (max of a monotone
    * sequence), which is batch-deterministic.
    */
  def statefulCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    import ss.implicits._
    val updates = eventsStream(ss, sfDir)
      .select(col("user_id"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (userId: Long, events: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, Double.MinValue))
          var n = prev.n
          var mx = prev.maxValue
          events.foreach { e =>
            n += 1
            if (e.value > mx) mx = e.value
          }
          state.update(UserState(n, mx))
          (userId, n, mx)
      }
      .toDF("user_id", "n_events", "max_value")
    runToMemory(updates, "graft_stream_state", OutputMode.Update())
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("max_value")).as("max_value"))
  }

  /** Custom session close-out via flatMapGroupsWithState + EVENT-TIME
    * TIMEOUT — the state-machine API surface `session_window` (st7)
    * cannot reach: arbitrary per-key state, multiple emissions per key,
    * and a WATERMARK-DRIVEN timeout that closes a session when the
    * event-time clock proves the user went idle (4h), not just when a
    * later event shows up. Each closed session emits exactly once,
    * whether closed by a successor event (gap >= 4h, detected by
    * sorting the batch's per-key events) or by the timeout firing
    * between micro-batches; the LAST session per user emits only if the
    * final watermark passed its idle deadline — the open tail stays in
    * state, exactly as on a live stream. Time-ordered micro-batches
    * keep the watermark monotone (no late drops), so the emitted set is
    * batch-deterministic and the oracle is plain gaps-and-islands plus
    * the final-watermark deadline in Spark's ms-floor arithmetic.
    *
    * Scale: state is one (start, last, n) triple per ACTIVE user — the
    * flatMap* pattern's point is that state size tracks concurrent
    * sessions, not history; the timeout sweep is the state store's own
    * index scan, no shuffle beyond the groupByKey exchange.
    */
  def sessionTimeout(spark: SparkSession, sfDir: String,
      gapUs: Long = 14400000000L): DataFrame = {
    val ss = eventsSession(spark)
    import ss.implicits._
    // 2 data batches + closing batch (see streamStreamLeftJoin): the
    // close-out set is final-watermark-defined and the per-user state
    // machine sorts within each batch, so batch count only buys harness
    // cost, not coverage.
    val closed = eventsStream(ss, sfDir, splitFiles = 4, maxFilesPerTrigger = 2,
      orderedSplit = true)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("ts"))
      .as[TsEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, events: Iterator[TsEvent],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(userId, s.startUs, s.lastUs, s.n))
          } else {
            val sorted = events.map(_.us).toArray.sorted
            val out = scala.collection.mutable.ArrayBuffer[ClosedSession]()
            var cur = state.getOption
            sorted.foreach { us =>
              cur match {
                case Some(s) if us - s.lastUs >= gapUs =>
                  out += ClosedSession(userId, s.startUs, s.lastUs, s.n)
                  cur = Some(SessionState(us, us, 1L))
                case Some(s) =>
                  cur = Some(SessionState(s.startUs, us, s.n + 1L))
                case None =>
                  cur = Some(SessionState(us, us, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // Timeout in the MS clock Spark tracks watermarks in.
              state.setTimeoutTimestamp(s.lastUs / 1000L + gapUs / 1000L)
            }
            out.iterator
          }
      }
      .toDF()
    runToMemory(closed, "graft_stream_session_timeout", OutputMode.Append())
  }

  /** Streaming rolling-baseline anomaly alerting — the live twin of
    * w14_rolling_anomaly: per user, keep the <=20 most recent values in
    * a ring (quantized to the DECIMAL(18,6) micro-grid, so the state is
    * exact integers) and emit an alert when a new value exceeds 2x the
    * trailing mean of at least 10 STRICTLY PRIOR values. The ring
    * carries across micro-batches, so the emitted set is exactly the
    * batch query's anomaly rows — one oracle
    * ([[graft.queries.Relational3.RollingAnomalyOracle]]) gates both.
    * Within a batch, per-user events sort on (us, event_id) — the same
    * total order the batch window uses; ordered splits keep the
    * cross-batch order. Scale: state is 20 longs per ACTIVE user
    * (bounded, RocksDB-friendly), one groupByKey exchange, emission is
    * alert-rate-sized, not stream-sized.
    */
  def streamAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    import ss.implicits._
    val hits = eventsStream(ss, sfDir, splitFiles = 4, maxFilesPerTrigger = 2,
      orderedSplit = true)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[ValEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomalyState, AnomalyHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, events: Iterator[ValEvent],
         state: GroupState[AnomalyState]) =>
          val sorted = events.toArray.sortBy(e => (e.us, e.event_id))
          var ring = state.getOption.map(_.ring)
            .getOrElse(Array.emptyLongArray)
          val out = scala.collection.mutable.ArrayBuffer[AnomalyHit]()
          sorted.foreach { e =>
            val n = ring.length
            if (n >= 10) {
              var sumMicros = 0L
              ring.foreach(sumMicros += _)
              // Exact-integer micros -> the same double the batch side's
              // DECIMAL-sum-cast produces (sum < 2^53, division rounds once).
              val baseSum = sumMicros.toDouble / 1000000.0
              if (e.value > 2.0 * (baseSum / n.toDouble))
                out += AnomalyHit(userId, e.event_id, e.us, e.value,
                  n.toLong, baseSum)
            }
            // valueOf = Spark's Cast(double -> decimal) semantics (shortest
            // decimal string), then HALF_UP to the 6-dp grid.
            val q = java.math.BigDecimal.valueOf(e.value)
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .movePointRight(6).longValueExact()
            ring = if (ring.length < 20) ring :+ q
                   else ring.drop(1) :+ q
          }
          state.update(AnomalyState(ring))
          out.iterator
      }
      .toDF()
    runToMemory(hits, "graft_stream_anomaly", OutputMode.Append())
  }

  /** st20 — STREAMING quarantine routing through the Pipeline runner's
    * Table arm (the live twin of g13's batch arm; ONE oracle gates
    * both, the st19/w14 discipline): the events stream is split over
    * four micro-batches, each batch's violators are tagged and appended
    * to `<table>__quarantine` under the same idempotence marker as the
    * main append, clean rows land in the main table. The returned frame
    * is the union of both COMMITTED tables with a disposition column,
    * so the whole routing — splits, tags, per-batch appends — sits
    * under the driver's hash gate. Rebuilt per run (tables, checkpoint,
    * markers) so the replay is deterministic.
    */
  def streamQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    val tbl = s"events_stq_${graft.core.Scratch.pathKey(sfDir)}"
    val q = s"${tbl}__quarantine"
    val wh = ss.conf.get("spark.sql.warehouse.dir")
    val hconf = ss.sparkContext.hadoopConfiguration
    Seq(tbl, q).foreach { t =>
      ss.sql(s"DROP TABLE IF EXISTS $t")
      graft.core.CatalogUtil.dropOrphanLocation(ss, t)
    }
    Seq(s"$wh/_graft_checkpoints/$tbl",
        s"$wh/_graft_checkpoints/${tbl}_commits").foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hconf)
      if (fs.exists(hp)) fs.delete(hp, true)
    }
    new graft.pipeline.Pipeline()
      .register(graft.pipeline.Dataset(tbl, Nil,
        (_, _) => eventsStream(ss, sfDir, splitFiles = 4,
            maxFilesPerTrigger = 1)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value")),
        expectations = Seq(
          graft.dq.Expectations.quarantine("not_error",
            col("event_type") =!= "error"),
          graft.dq.Expectations.quarantine("value_cap",
            col("value") <= 150.0)),
        materialize = graft.pipeline.Materialize.Table))
      .run(ss)
    ss.table(tbl)
      .withColumn("disposition", lit("clean"))
      .withColumn("violated", lit(""))
      .unionByName(ss.table(q)
        .withColumn("disposition", lit("quarantined"))
        .withColumn("violated", array_join(col("_violated"), ","))
        .drop("_violated"))
  }

  /** st21 — the TRANSACTIONAL streaming sink ([[SnapshotSink]]): four
    * micro-batches each commit as one atomic snapshot version (rows +
    * batch-id marker under a single pointer rename — no marker gap, see
    * the SnapshotSink scaladoc), and the read-back must equal the batch
    * oracle however the input was batched. Rebuilt per run (fresh
    * checkpoint + destroyed table) so the version history is
    * deterministic.
    */
  def streamSnapshotSink(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    val tbl = s"events_snap_${graft.core.Scratch.pathKey(sfDir)}"
    graft.storage.SnapshotCommit.destroy(ss, tbl)
    val ckpt = graft.core.Scratch.fresh(ss, s"ckpt/st21_$tbl").toString
    val q = eventsStream(ss, sfDir, splitFiles = 4, maxFilesPerTrigger = 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        SnapshotSink.append(ss, tbl, id, b); ()
      }
      .start()
    q.awaitTermination()
    ss.table(tbl)
  }

  /** The same watermark-clocked session close-out as [[sessionTimeout]],
    * re-expressed on Spark 4's `transformWithState` — the arbitrary-
    * stateful-processing successor to [[flatMapGroupsWithState]]: typed
    * state handles created in `init`, EXPLICIT per-key timers
    * (registered at the session's idle deadline, deleted and
    * re-registered as later events extend it, so no stale firings), and
    * a RocksDB-backed state store (the API requires it — also the
    * production store a large deployment runs, changelog-checkpointed).
    * Both APIs share one oracle: the emitted set must be identical.
    */
  private class SessionCloseProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TsEvent, ClosedSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    private def deadlineMs(s: SessionState): Long =
      s.lastUs / 1000L + gapUs / 1000L

    override def handleInputRows(key: Long, rows: Iterator[TsEvent],
        timers: TimerValues): Iterator[ClosedSession] = {
      val sorted = rows.map(_.us).toArray.sorted
      val out = scala.collection.mutable.ArrayBuffer[ClosedSession]()
      val prevDeadline =
        if (state.exists()) Some(deadlineMs(state.get())) else None
      var cur = if (state.exists()) Some(state.get()) else None
      sorted.foreach { us =>
        cur match {
          case Some(s) if us - s.lastUs >= gapUs =>
            out += ClosedSession(key, s.startUs, s.lastUs, s.n)
            cur = Some(SessionState(us, us, 1L))
          case Some(s) =>
            cur = Some(SessionState(s.startUs, us, s.n + 1L))
          case None =>
            cur = Some(SessionState(us, us, 1L))
        }
      }
      cur.foreach { s =>
        state.update(s)
        val nd = deadlineMs(s)
        if (!prevDeadline.contains(nd)) {
          prevDeadline.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(nd)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[ClosedSession] = {
      // Timers are deleted on every deadline move, so a firing timer is
      // always the CURRENT deadline: the session is idle-expired.
      if (state.exists()) {
        val s = state.get()
        state.clear()
        Iterator.single(ClosedSession(key, s.startUs, s.lastUs, s.n))
      } else Iterator.empty
    }
  }

  /** [[sessionTimeout]] on the transformWithState API (see
    * [[SessionCloseProcessor]]); identical emitted set by construction,
    * verified against the same oracle as st15.
    */
  def sessionTimeoutTws(spark: SparkSession, sfDir: String,
      gapUs: Long = 14400000000L): DataFrame = {
    val ss = eventsSession(spark)
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import ss.implicits._
    // 2 data batches + closing batch (see streamStreamLeftJoin). Floor
    // note: RocksDB opens+commits one store per partition per batch —
    // the provider transformWithState requires — so this entry carries
    // an irreducible per-batch cost above the HDFS-backed state ops.
    val closed = eventsStream(ss, sfDir, splitFiles = 4, maxFilesPerTrigger = 2,
      orderedSplit = true)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("ts"))
      .as[TsEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionCloseProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
      .toDF()
    runToMemory(closed, "graft_stream_session_tws", OutputMode.Append())
  }

  /** CDC apply — the DLT `APPLY CHANGES INTO` shape. The event stream is
    * treated as a change feed keyed by user_id and SEQUENCED by
    * (ts, event_id); each micro-batch is MERGE-applied into a keyed
    * state table via foreachBatch so the table always holds the
    * highest-sequence change per key, and event_type 'error' plays the
    * APPLY-AS-DELETE role (a key whose latest change is a delete is
    * absent from the output). Application is sequence-ordered, NOT
    * arrival-ordered: the source files are split round-robin so
    * micro-batches are deliberately time-shuffled, and the end state
    * must still equal the batch latest-per-key oracle — DLT's
    * out-of-order CDC contract, proved by construction here.
    *
    * State is a parquet generation per batch (prev ∪ batch, keep max
    * sequence per key, write next, swap) — the same staged-rewrite MERGE
    * Materialize.Incremental commits, driven from a stream. Per-batch
    * cost ∝ state + batch, the CDC-apply contract; at 100 TB the state
    * table is partitioned by key range so a batch rewrites only the
    * partitions its keys touch (Pipeline.clusterBy supplies that
    * layout), and the per-key reduction is a window over ONE shuffle.
    */
  def applyChanges(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    // 2 time-shuffled data batches: out-of-order arrival across batches
    // (the CDC contract under test) needs at least two; each further
    // batch repeats a full MERGE cycle for harness cost only.
    val src = eventsStream(ss, sfDir, splitFiles = 4, maxFilesPerTrigger = 2)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    val root = graft.core.Scratch.fresh(ss,
      s"apply_changes/${graft.core.Scratch.pathKey(sfDir)}")
    val cur = new java.util.concurrent.atomic.AtomicReference[String](null)
    val gen = new java.util.concurrent.atomic.AtomicInteger(0)
    val bySeqDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val sess = batch.sparkSession
          val latest = batch.withColumn("rn", row_number().over(bySeqDesc))
            .filter(col("rn") === 1).drop("rn")
          val merged = Option(cur.get()) match {
            case Some(prev) =>
              sess.read.parquet(prev).unionByName(latest)
                .withColumn("rn", row_number().over(bySeqDesc))
                .filter(col("rn") === 1).drop("rn")
            case None => latest
          }
          val next = root.resolve(s"g${gen.incrementAndGet()}").toString
          merged.write.mode("overwrite").parquet(next)
          cur.set(next)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(cur.get != null, "apply_changes: no non-empty micro-batch")
    ss.read.parquet(cur.get())
      .filter(col("event_type") =!= "error")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
  }

  /** CDC apply, SCD TYPE 2 — DLT's `APPLY CHANGES … STORED AS SCD TYPE 2`.
    * Where [[applyChanges]] keeps only the latest change per key, this
    * keeps EVERY change as a history row with a `[valid_from, valid_to)`
    * validity interval over the sequence axis and `is_current` on the
    * open row. 'error' events play APPLY AS DELETE: the delete row
    * itself never appears in the history, but it CLOSES the interval of
    * the version that preceded it — so a key whose latest change is a
    * delete has no current row.
    *
    * Micro-batches arrive deliberately time-shuffled (round-robin file
    * split), so a batch can insert a version BETWEEN two already-stored
    * versions — the out-of-order case DLT sequences by the SEQUENCE
    * column. Correct intervals therefore cannot be assigned at arrival;
    * instead each batch rewrites the history of exactly the keys it
    * touches: carried = stored history of untouched keys (left_anti on
    * the batch key set, no recompute, no rewrite of their derivation);
    * rebuilt = stored raw changes of touched keys ∪ batch, re-windowed
    * per key. Delete markers stay in the STORED history (dropping them
    * would mis-interval a later out-of-order insert landing just before
    * a delete); the final read filters them. Per-batch cost ∝ state +
    * batch like every CDC apply; at 100 TB the state table is key-range
    * partitioned so only partitions holding touched keys rewrite, and
    * the per-key re-derivation is a window over ONE shuffle of the
    * touched slice.
    */
  def applyChangesScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    // 2 time-shuffled data batches — same rationale as applyChanges; the
    // per-batch touched-key history rewrite is the expensive step.
    val src = eventsStream(ss, sfDir, splitFiles = 4, maxFilesPerTrigger = 2)
      .select(col("user_id"), unix_micros(col("ts")).as("valid_from_us"),
        col("event_id"), col("event_type"), col("value"))
    val root = graft.core.Scratch.fresh(ss,
      s"scd2/${graft.core.Scratch.pathKey(sfDir)}")
    val cur = new java.util.concurrent.atomic.AtomicReference[String](null)
    val gen = new java.util.concurrent.atomic.AtomicInteger(0)
    val bySeq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("valid_from_us"), col("event_id"))
    val rawCols = Seq("user_id", "valid_from_us", "event_id", "event_type",
      "value")
    def derive(raw: DataFrame): DataFrame =
      raw.withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(bySeq))
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val sess = batch.sparkSession
          val merged = Option(cur.get()) match {
            case Some(prev) =>
              val st = sess.read.parquet(prev)
              val touched = batch.select("user_id").distinct()
              val carried = st.join(touched, Seq("user_id"), "left_anti")
              val rebuilt = derive(
                st.join(touched, Seq("user_id"), "left_semi")
                  .select(rawCols.map(col): _*)
                  .unionByName(batch))
              carried.unionByName(rebuilt)
            case None => derive(batch)
          }
          val next = root.resolve(s"g${gen.incrementAndGet()}").toString
          merged.write.mode("overwrite").parquet(next)
          cur.set(next)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(cur.get != null, "apply_changes_scd2: no non-empty micro-batch")
    ss.read.parquet(cur.get())
      .filter(col("event_type") =!= "error")
      .select(col("user_id"), col("valid_from_us"), col("valid_to_us"),
        col("event_id"), col("event_type"), col("value"),
        col("valid_to_us").isNull.as("is_current"))
  }

  /** File-source stream over the `documents` table, split into
    * `splitFiles` range partitions by doc_id with STRICTLY INCREASING
    * mtimes in doc_id order — the same total-order trick as
    * [[eventsStream]]'s orderedSplit (the file source orders new files
    * by modification time and breaks ties arbitrarily), so AvailableNow
    * with maxFilesPerTrigger=1 delivers micro-batches in doc_id order:
    * the arrival-order determinism every first-wins ingest gate needs.
    */
  private def documentsStream(spark: SparkSession, sfDir: String,
      splitFiles: Int, maxFilesPerTrigger: Int): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val sane = saneKey(sfDir)
    val dir = graft.core.Scratch.ensure(spark,
      s"streams/${sane}_docsplit$splitFiles",
      graft.core.Scratch.key(spark, sfDir, schema.json + "|docid-total-order"),
      // Ordered generations are complete only once mtimes are STAMPED
      // (see eventsStream — parquet's _SUCCESS lands before the loop).
      "documents/_graft_ordered") { gen =>
      val src = spark.read.parquet(s"$sfDir/documents.parquet")
      val out = gen.resolve("documents")
      src.repartitionByRange(splitFiles, col("doc_id"))
        .write.mode("overwrite").parquet(out.toString)
      stampOrdered(out)
    }.resolve("documents")
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir.toString)
  }

  /** Streaming observed metrics — the monitoring counters a production
    * ingest publishes per micro-batch without a second pass over the
    * data: `observe` plants a CollectMetrics barrier in the streaming
    * plan, every micro-batch's StreamingQueryProgress carries that
    * batch's aggregate row, and the caller folds the per-batch rows into
    * job totals. The batch analogue is dq2 (Observation); streaming
    * `observe` is the half the Observation helper does NOT support —
    * progress events are the only channel. The value sum aggregates as
    * DECIMAL so per-batch partials are exact and their cross-batch fold
    * is order-independent: totals equal the batch oracle however the
    * input was micro-batched (4 throttled batches here). Scale: the
    * metrics ride the stream's own stages — zero extra reads, one
    * aggregate row per batch on the driver.
    */
  def streamObservedMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    val observed = eventsStream(ss, sfDir, splitFiles = 4,
      maxFilesPerTrigger = 1)
      .observe("st18_obs",
        count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"),
        max(col("user_id")).as("max_user"))
    // Collect per-batch metric rows through a StreamingQueryListener,
    // NOT q.recentProgress: the progress buffer retains only the last
    // `spark.sql.streaming.numRecentProgressUpdates` entries (default
    // 100), so a run split into >100 micro-batches would silently
    // undercount totals. The listener bus delivers events to one
    // listener in post order and the terminated event is posted after
    // every progress event, so once the latch opens the fold is
    // complete at ANY batch count. Registered on the child session's
    // manager (per-session in Spark), so only this helper's own query
    // is ever observed.
    val batchRows =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        Option(e.progress.observedMetrics.get("st18_obs")).foreach { r =>
          batchRows.synchronized { batchRows += r }
        }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        done.countDown()
    }
    ss.streams.addListener(listener)
    try {
      val q = observed.writeStream
        .format("noop")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      require(done.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "st18: listener never saw query termination")
    } finally ss.streams.removeListener(listener)
    // Fold the per-batch metric rows (bounded: one small row per batch).
    // Empty-input honesty: with zero rows overall, sum/max fold to NONE
    // and emit NULL — exactly the batch oracle's aggregates over an
    // empty table (a .max on the empty Seq would instead crash).
    val rows = batchRows.synchronized(batchRows.toList)
    val nRows = rows.map(_.getAs[Long]("n_rows")).sum
    val sums = rows.flatMap(r =>
      Option(r.getAs[java.math.BigDecimal]("sum_value")))
    val sumValue: Option[Double] =
      if (sums.isEmpty) None
      else Some(sums.foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
        .doubleValue())
    val maxUser: Option[Long] = rows.flatMap(r =>
      Option(r.getAs[Any]("max_user"))).map(_.asInstanceOf[Long])
      .maxOption
    import ss.implicits._
    Seq((nRows, sumValue, maxUser))
      .toDF("n_rows", "sum_value", "max_user")
  }

  final case class DocAdmit(doc_id: Long, fp: Long)

  /** Streaming content-dedup ADMISSION GATE over a document ingest — the
    * first-wins building block a streaming corpus pipeline puts in front
    * of everything downstream (bronze dedup-at-ingest): per content
    * fingerprint, the FIRST arriving document is admitted and every
    * later arrival — in the same micro-batch or any later one — is
    * silently rejected. The fingerprint is the rolling hash of the
    * LEADING 15-token window (the "head shingle"): the corpus has no
    * byte-identical texts, but its planted near-clones share openers
    * (23 of 500 docs collide at sf0.01), so this key exercises both the
    * admit and the reject path — and it is the cheap screen a real
    * ingest uses against boilerplate re-crawls before any full near-dup
    * pass. Differs from [[streamDedup]]/[[streamDedupWatermarked]] in
    * kind: those emit the distinct KEY SET of a column pair; this keys
    * on derived document CONTENT and emits the surviving ROW, holding
    * explicit admit state (flatMapGroupsWithState) so the survivor is
    * well-defined under any batching — within a batch the group iterator
    * is reduced to its min doc_id, and the doc_id-range-ordered split
    * ([[documentsStream]]) puts the global minimum for every fingerprint
    * in that fingerprint's first-appearing batch, so the admitted set is
    * exactly "min doc_id per fingerprint" however the files are batched.
    * Swapping the key expression for a MinHash band key or a full-text
    * hash turns the same gate into a different-strength gate — the state
    * machine is key-agnostic. Scale: state is one long per DISTINCT
    * fingerprint (the smallest possible admit ledger); a production
    * deployment bounds it with a TTL watermark exactly like st8's.
    */
  def streamDedupGate(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    import ss.implicits._
    // NULL text coalesces to "" BEFORE hashing: DocAdmit.fp is a
    // primitive Long, so a null hash would crash the encoder mid-batch
    // (same defense — and same reason — as Multimodal.attachMedia; the
    // oracle applies the identical coalesce).
    val docs = documentsStream(ss, sfDir, splitFiles = 4,
      maxFilesPerTrigger = 1)
      .select(col("doc_id"),
        graft.text.TextFunctions.rollingHash(array_join(
          slice(filter(split(trim(coalesce(col("text"), lit(""))), " +"),
            t => length(t) > 0), 1, 15), " ")).as("fp"))
      .as[DocAdmit]
    val admitted = docs.groupByKey(_.fp)
      .flatMapGroupsWithState[Long, DocAdmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (fp: Long, rows: Iterator[DocAdmit], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val minDoc = rows.map(_.doc_id).min
            state.update(minDoc)
            Iterator.single(DocAdmit(minDoc, fp))
          }
      }
      .toDF()
    runToMemory(admitted, "graft_stream_dedup_gate", OutputMode.Append())
      .select(col("doc_id"), col("fp"))
  }

  /** Streaming upsert through the SQL MERGE surface — the canonical
    * Databricks `foreachBatch { MERGE INTO }` pattern, run verbatim
    * against this engine's committed snapshot tables: each time-ordered
    * micro-batch reduces to its latest change per key, then two MERGE
    * statements apply it — the upsert arm for live rows, the
    * `WHEN MATCHED THEN DELETE` arm for 'error' (apply-as-delete)
    * markers — each publishing an atomic snapshot version. st12 proves
    * the same CDC contract with a hand-built staged rewrite; this entry
    * proves the user-facing SQL idiom composes with the commit
    * protocol, and SHARES st12's oracle semantics (latest non-error
    * change per key) verbatim.
    *
    * Batches are time-ORDERED (orderedSplit — range-split on ts with
    * stamped mtimes), and BOTH merge arms are SEQUENCE-GUARDED (`WHEN
    * MATCHED AND src later-than-stored by (ts_us, event_id)`): the
    * range split keys on raw nanosecond ts, so two same-key events
    * sharing a microsecond can land in different micro-batches, and an
    * unguarded later batch would win regardless of event_id — the
    * guard makes the winner the DATA's total order, batch boundaries
    * irrelevant (and exercises the conditional MERGE grammar on the
    * streaming path). Deeper out-of-order arrival is st12/st13's job,
    * sequence-windowed inside their apply. Scale: per batch, one dedup
    * window over the batch + the MERGE's touched-file anti-join
    * against the table — the Delta streaming-merge cost model.
    */
  def streamMergeSql(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = eventsSession(spark)
    val k = saneKey(sfDir).replaceAll("[^A-Za-z0-9_]", "_")
    val tbl = s"st22_merge_$k"
    graft.storage.SnapshotCommit.destroy(ss, tbl)
    graft.core.CatalogUtil.dropOrphanLocation(ss, tbl)
    // Seed v1 EMPTY but schema-bearing (one empty part file carries the
    // footer schema — the SnapshotSink empty-batch rationale): the first
    // micro-batch's MERGE then inserts into a real, readable table.
    // Tables.events, not a raw parquet read: the generator's
    // TIMESTAMP(NANOS) physical type throws on a fresh session until
    // the canonical reader sets the legacy conf (an entry must never
    // depend on a sibling entry having read events first).
    graft.storage.SnapshotCommit.commit(ss, tbl) { dir =>
      graft.core.Tables.events(ss, sfDir).limit(0)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"))
        .coalesce(1).write.parquet(dir)
    }
    val src = eventsStream(ss, sfDir, splitFiles = 4, maxFilesPerTrigger = 2,
      orderedSplit = true)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    val byKeyDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val sess = batch.sparkSession
          val latest = batch
            .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
              col("event_id"), col("event_type"), col("value"))
            .withColumn("rn", row_number().over(byKeyDesc))
            .filter(col("rn") === 1).drop("rn")
            .localCheckpoint(true) // two consumers below, one compute
          val ups = latest.filter(col("event_type") =!= "error")
          val dels = latest.filter(col("event_type") === "error")
            .select(col("user_id"), col("ts_us"), col("event_id"))
          // SEQUENCE-GUARDED clauses (Databricks' CDC merge idiom, now
          // expressible through the conditional grammar): a matched row
          // only applies when it is at least as late as the stored one
          // by (ts_us, event_id) — so the winner per key is determined
          // by the DATA's total order, not by which micro-batch a
          // microsecond-tied event landed in (batches range-split on
          // raw nanosecond ts, which can split a microsecond tie
          // across batches; the oracle orders by (ts_us, event_id)).
          def laterThanStored(src: String) =
            s"($src.ts_us > $tbl.ts_us OR ($src.ts_us = $tbl.ts_us " +
              s"AND $src.event_id >= $tbl.event_id))"
          if (!ups.isEmpty) {
            ups.createOrReplaceTempView(s"${tbl}_ups")
            graft.ext.GraftSqlParser.sql(sess,
              s"MERGE INTO $tbl USING ${tbl}_ups " +
                s"ON $tbl.user_id = ${tbl}_ups.user_id " +
                s"WHEN MATCHED AND ${laterThanStored(s"${tbl}_ups")} " +
                "THEN UPDATE SET * " +
                "WHEN NOT MATCHED THEN INSERT *")
          }
          if (!dels.isEmpty) {
            dels.createOrReplaceTempView(s"${tbl}_dels")
            graft.ext.GraftSqlParser.sql(sess,
              s"MERGE INTO $tbl USING ${tbl}_dels " +
                s"ON $tbl.user_id = ${tbl}_dels.user_id " +
                s"WHEN MATCHED AND ${laterThanStored(s"${tbl}_dels")} " +
                "THEN DELETE")
          }
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.storage.SnapshotCommit.register(ss, tbl)
    ss.table(tbl).select(col("user_id"), col("ts_us"), col("event_id"),
      col("event_type"), col("value"))
  }
}
