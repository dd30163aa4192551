package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dq.{Expectations => DQ, ExpectationViolation}
import graft.ingest.CsvSource
import graft.pipeline.{Dataset, Materialize, Pipeline, PipelineCycleException}

/** End-to-end medallion flow over CSV fixtures: bronze CSV ingest with
  * rescue, silver casts + expectations + dedup, gold materialized
  * aggregate — the reference's bronze/silver/gold shape in miniature.
  */
class PipelineSpec extends SparkSpec {

  private lazy val csvDir: String = {
    val dir = SparkSpec.tempDir("graft_pipe_csv").toFile
    val f = new java.io.File(dir, "orders.csv")
    val w = new java.io.PrintWriter(f)
    w.println("order_id,amount,status")
    w.println("o1, 10.50 ,NEW")        // whitespace-trim exercised
    w.println("o2,20.00,SHIPPED")
    w.println("o2,20.00,SHIPPED")      // duplicate -> silver dedup
    w.println("o3,not_a_number,NEW")   // malformed amount -> rescued
    w.println("o4,-5.00,NEW")          // violates nonneg warn rule
    w.close()
    dir.getAbsolutePath
  }

  private val bronzeSchema = StructType(Seq(
    StructField("order_id", StringType),
    StructField("amount", DoubleType),
    StructField("status", StringType)))

  private def build(warehouseSuffix: String): Pipeline = {
    new Pipeline()
      .register(Dataset("bronze_orders", Nil,
        (s, _) => CsvSource.read(s, csvDir, bronzeSchema)))
      .register(Dataset("silver_orders", Seq("bronze_orders"),
        (_, up) => up("bronze_orders")
          .filter(col(CsvSource.RescueColumn).isNull)
          .drop(CsvSource.RescueColumn)
          .dropDuplicates("order_id"),
        expectations = Seq(
          DQ.warn("nonneg_amount", col("amount") >= 0),
          DQ.fail("order_id_set", col("order_id").isNotNull))))
      .register(Dataset(s"gold_order_stats_$warehouseSuffix",
        Seq("silver_orders"),
        (_, up) => up("silver_orders").groupBy(col("status"))
          .agg(count(lit(1)).as("n"),
            sum(col("amount").cast("decimal(18,2)")).cast("double").as("total")),
        materialize = Materialize.MaterializedView))
  }

  test("topo order respects dependencies") {
    val order = build("t1").topoOrder
    assert(order.indexOf("bronze_orders") < order.indexOf("silver_orders"))
    assert(order.indexOf("silver_orders") < order.indexOf("gold_order_stats_t1"))
  }

  test("cycles are rejected") {
    val p = new Pipeline()
      .register(Dataset("a", Seq("b"), (_, up) => up("b")))
      .register(Dataset("b", Seq("a"), (_, up) => up("a")))
    intercept[PipelineCycleException](p.topoOrder)
  }

  test("end-to-end: rescue drops malformed, dedup, gold materializes") {
    val out = build("t2").run(spark)
    // o3's bad amount was rescued at bronze and filtered at silver;
    // o2's duplicate collapsed -> o1, o2, o4 remain.
    assert(out("silver_orders").count() === 3)
    val gold = spark.table("gold_order_stats_t2")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(gold("NEW") === ((2L, 5.5)))       // 10.50 + (-5.00)
    assert(gold("SHIPPED") === ((1L, 20.0)))
    // bronze preserved the malformed row in the rescue column
    val rescued = out("bronze_orders")
      .filter(col(CsvSource.RescueColumn).isNotNull).count()
    assert(rescued === 1)
  }

  test("materialized view full-refresh overwrites") {
    build("t3").run(spark)
    build("t3").run(spark)  // second refresh must not duplicate
    assert(spark.table("gold_order_stats_t3").count() === 2)
  }

  test("inference-mode first contact types numeric columns") {
    // Auto Loader's cloudFiles.inferColumnTypes analogue
    // (bronze_ingestion.py:25,30): first contact without a pinned schema.
    val df = CsvSource.readInferred(spark, csvDir)
    val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("order_id") === "string")
    // the malformed 'not_a_number' forces amount to stay string — the
    // exact first-contact behavior that motivates the rescue column
    assert(types("amount") === "string")
    assert(types("status") === "string")
    assert(df.count() === 5) // inference must not drop rows
  }

  test("streaming table is exactly-once across re-runs") {
    def mk = new Pipeline()
      .register(Dataset("bronze_stream_orders", Nil,
        (s, _) => CsvSource.readStream(s, csvDir, bronzeSchema)))
      .register(Dataset("silver_stream_orders", Seq("bronze_stream_orders"),
        (_, up) => up("bronze_stream_orders")
          .filter(col(CsvSource.RescueColumn).isNull)
          .drop(CsvSource.RescueColumn),
        materialize = Materialize.Table))
    mk.run(spark)
    val n1 = spark.table("silver_stream_orders").count()
    // Fresh pipeline, same checkpoint: the file-source checkpoint already
    // covers every input file, so the second run appends NOTHING.
    mk.run(spark)
    val n2 = spark.table("silver_stream_orders").count()
    assert(n1 === 4)  // 5 rows - 1 rescued (malformed amount)
    assert(n2 === n1)
  }

  test("batch table re-run does not duplicate (full refresh)") {
    def mk = new Pipeline()
      .register(Dataset("batch_tbl_orders", Nil,
        (s, _) => CsvSource.read(s, csvDir, bronzeSchema),
        materialize = Materialize.Table))
    mk.run(spark)
    mk.run(spark)
    assert(spark.table("batch_tbl_orders").count() === 5)
  }

  test("streaming fail expectation aborts BEFORE the batch commits") {
    val p = new Pipeline()
      .register(Dataset("stream_fail_orders", Nil,
        (s, _) => CsvSource.readStream(s, csvDir, bronzeSchema),
        expectations = Seq(
          DQ.fail("no_negatives", col("amount") >= 0 || col("amount").isNull)),
        materialize = Materialize.Table))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      p.run(spark))
    // The violation surfaces wrapped in the streaming query's failure...
    assert(e.getCause.isInstanceOf[ExpectationViolation])
    // ...and nothing was committed: the foreachBatch threw before the
    // append, so the table was never created.
    assert(!spark.catalog.tableExists("stream_fail_orders"))
  }

  test("fail expectation aborts the run") {
    val p = new Pipeline()
      .register(Dataset("bad", Nil,
        (s, _) => CsvSource.read(s, csvDir, bronzeSchema),
        expectations = Seq(DQ.fail("no_negatives", col("amount") >= 0 || col("amount").isNull))))
    intercept[ExpectationViolation](p.run(spark))
  }

  private def incPipe(name: String, rows: Seq[(String, Double, String)],
      exps: Seq[graft.dq.Expectation] = Nil): Pipeline = {
    import spark.implicits._
    val df = rows.toDF("order_id", "amount", "status")
    new Pipeline().register(Dataset(name, Nil, (_, _) => df,
      expectations = exps,
      materialize = Materialize.Incremental(Seq("order_id"))))
  }

  test("incremental MERGE: matched keys update, new keys insert, absent keys survive") {
    spark.sql("DROP TABLE IF EXISTS inc_orders")
    incPipe("inc_orders", Seq(
      ("o1", 10.0, "NEW"), ("o2", 20.0, "NEW"), ("o3", 30.0, "NEW"))).run(spark)
    incPipe("inc_orders", Seq(
      ("o2", 25.0, "SHIPPED"), ("o4", 40.0, "NEW"))).run(spark)
    val out = spark.table("inc_orders").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(out === Map(
      "o1" -> ((10.0, "NEW")),     // absent from batch 2 — survived
      "o2" -> ((25.0, "SHIPPED")), // matched — replaced whole-row (SCD1)
      "o3" -> ((30.0, "NEW")),     // absent — survived
      "o4" -> ((40.0, "NEW"))))    // unmatched — inserted
  }

  test("incremental MERGE is file-level: untouched files carried by rename") {
    // The Delta MERGE commit shape: the rewrite touches only files
    // holding a matched key; every other file moves into the new
    // snapshot as a metadata rename — write IO scales with the batch,
    // not the table. The target-file override pins the size-derived
    // fan-out (OptimizedWrite) to several files at test size.
    val coalesceKey = graft.storage.OptimizedWrite.TargetFileBytesKey
    val saved = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "200")
    try {
      val tbl = "graft_incr_filelevel"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      def run(src: org.apache.spark.sql.DataFrame): Unit = {
        new Pipeline().register(Dataset(tbl, Nil, (_, _) => src,
          materialize = Materialize.Incremental(Seq("k")),
          clusterBy = Seq("k"))).run(spark)
        ()
      }
      run(spark.range(0, 100)
        .select(col("id").as("k"), (col("id") * 10).as("v")))
      val files1 = spark.table(tbl).inputFiles
        .map(f => new java.io.File(f).getName).toSet
      assert(files1.size >= 2, s"first load landed in ${files1.size} file")
      // batch 2 updates the low key range and inserts new keys — only
      // the file(s) covering k < 10 hold matched keys.
      run(spark.range(0, 10).select(col("id").as("k"), lit(-1L).as("v"))
        .unionByName(spark.range(100, 105)
          .select(col("id").as("k"), lit(7L).as("v"))))
      val after = spark.table(tbl)
      assert(after.count() === 105)
      assert(after.filter(col("k") < 10 && col("v") =!= -1L).count() === 0)
      assert(after.filter(col("k") >= 100 && col("v") =!= 7L).count() === 0)
      assert(after.filter(col("k").between(10, 99)
        && col("v") =!= col("k") * 10).count() === 0)
      val files2 = spark.table(tbl).inputFiles
        .map(f => new java.io.File(f).getName)
      val carried = files2.filter(_.startsWith("carried-"))
      assert(carried.nonEmpty, s"no files carried by rename: " +
        files2.mkString(", "))
      // carried files are literally batch 1's part files, name-preserved
      assert(carried.forall(c =>
        files1.contains(c.replaceFirst("^carried-\\d+-", ""))),
        s"carried names do not trace back to the first load: " +
          carried.mkString(", "))
      assert(carried.length < files1.size,
        "every file was carried — the merge rewrote nothing?")
    } finally saved match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None => spark.conf.unset(coalesceKey)
    }
  }

  test("incremental commit is atomic: a crash at every protocol point leaves old or new readable") {
    import graft.storage.SnapshotCommit
    val tbl = "inc_atomic"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    def state(): Map[String, Double] = spark.table(tbl).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    incPipe(tbl, Seq(("o1", 10.0, "NEW"), ("o2", 20.0, "NEW"))).run(spark)
    assert(state() === Map("o1" -> 10.0, "o2" -> 20.0))
    // Crash AFTER the new snapshot is staged, BEFORE the pointer rename:
    // the staged files are invisible garbage; every read resolves the
    // OLD version.
    SnapshotCommit.failpoint =
      s => if (s == "staged") throw new RuntimeException("injected: pre-publish crash")
    try intercept[RuntimeException](
      incPipe(tbl, Seq(("o2", 25.0, "UPD"))).run(spark))
    finally SnapshotCommit.failpoint = _ => ()
    assert(state() === Map("o1" -> 10.0, "o2" -> 20.0),
      "pre-publish crash must leave the old version intact")
    assert(SnapshotCommit.register(spark, tbl) === Some(1L),
      "recovery replay must re-align to the OLD version") // pointer unmoved
    assert(state() === Map("o1" -> 10.0, "o2" -> 20.0))
    // Crash AFTER the pointer rename, BEFORE catalog re-registration and
    // pruning: the commit is durable — replaying the registration (what
    // the next pipeline run does first) reads the NEW version, and the
    // old version directory is still present (pruning never ran), so a
    // reader mid-crash resolves a complete version either way.
    SnapshotCommit.failpoint =
      s => if (s == "committed") throw new RuntimeException("injected: post-publish crash")
    try intercept[RuntimeException](
      incPipe(tbl, Seq(("o2", 25.0, "UPD"))).run(spark))
    finally SnapshotCommit.failpoint = _ => ()
    SnapshotCommit.register(spark, tbl) // crash recovery: re-point catalog
    assert(state() === Map("o1" -> 10.0, "o2" -> 25.0),
      "post-publish crash must surface the committed new version")
    // A normal merge after both crashes works and converges.
    incPipe(tbl, Seq(("o3", 30.0, "NEW"))).run(spark)
    assert(state() === Map("o1" -> 10.0, "o2" -> 25.0, "o3" -> 30.0))
  }

  /** The forced-rendezvous merge race, parameterized by table name so it
    * can run under EITHER [[graft.storage.CommitLock]] implementation:
    * both writers stage against the same base before either claims, the
    * loser must rebase, no update may be lost. */
  private def concurrentMergeCase(tbl: String): Unit = {
    import java.util.concurrent.{CyclicBarrier, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import graft.storage.SnapshotCommit
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    SnapshotCommit.destroy(spark, tbl)
    incPipe(tbl, Seq(("o1", 1.0, "A"), ("o2", 2.0, "A"))).run(spark)
    // Rendezvous at the "staged" failpoint: both writers finish staging
    // against the SAME base version before either claims the pointer —
    // the worst-case interleaving, forced deterministically. The loser's
    // retry (3rd staged event) must not wait: nobody else is coming.
    val gate = new CyclicBarrier(2)
    val stagedEvents = new AtomicInteger(0)
    SnapshotCommit.failpoint = s =>
      if (s == "staged" && stagedEvents.incrementAndGet() <= 2) {
        gate.await(30, TimeUnit.SECONDS); ()
      }
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val a = Future(incPipe(tbl,
        Seq(("o1", 11.0, "B"), ("o3", 3.0, "B"))).run(spark))
      val b = Future(incPipe(tbl,
        Seq(("o2", 22.0, "C"), ("o4", 4.0, "C"))).run(spark))
      Await.result(Future.sequence(Seq(a, b)), Duration.Inf)
      pool.shutdown()
    } finally SnapshotCommit.failpoint = _ => ()
    // No lost update in either direction: both batches' upserts landed,
    // and rows absent from both batches survived.
    val out = spark.table(tbl).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(out === Map(
      "o1" -> ((11.0, "B")), "o2" -> ((22.0, "C")),
      "o3" -> ((3.0, "B")), "o4" -> ((4.0, "C"))))
    // The two commits landed SERIALIZED as v2 then v3 (base was v1), and
    // exactly one writer had to restage: 2 first attempts + 1 rebase.
    assert(SnapshotCommit.currentVersion(spark, tbl) === Some(3L))
    assert(stagedEvents.get() === 3,
      s"expected exactly one rebased attempt, saw ${stagedEvents.get()} staged events")
  }

  test("concurrent incremental merges serialize: loser rebases, no lost update") {
    concurrentMergeCase("inc_concurrent")
  }

  test("concurrent merges under FileLockCommitLock: the lock-service seam " +
      "carries the same exclusivity") {
    import graft.storage.{FileLockCommitLock, SnapshotCommit}
    // Same worst-case interleaving, arbitrated through the external-
    // lock-service implementation instead of rename atomicity — the
    // claim path a rename-less object store would install.
    val prev = SnapshotCommit.setCommitLock(FileLockCommitLock)
    try concurrentMergeCase("inc_concurrent_filelock")
    finally SnapshotCommit.setCommitLock(prev)
  }

  test("merge source materialization fires only for non-deterministic " +
      "sources") {
    val det = spark.range(5).toDF("k")
    assert(!Pipeline.nonDeterministic(det),
      "a deterministic source must not pay the materialization persist")
    assert(Pipeline.nonDeterministic(det.withColumn("r", rand())),
      "a rand()-derived source must be materialized once per attempt")
    assert(Pipeline.nonDeterministic(
      det.withColumn("r", rand()).select(col("k"))),
      "non-determinism below the projection still taints the frame")
    // Subquery plans: Expression.exists never descends into a
    // SubqueryExpression's LogicalPlan, so a sampled/random scalar
    // subquery used to pass as deterministic and skip materialization.
    spark.range(100).toDF("v").createOrReplaceTempView("nd_probe_src")
    assert(Pipeline.nonDeterministic(spark.sql(
      "SELECT k, (SELECT max(v) FROM nd_probe_src WHERE rand() > 0.5) m " +
        "FROM range(5) t(k)")),
      "non-determinism inside a scalar subquery must taint the frame")
    assert(!Pipeline.nonDeterministic(spark.sql(
      "SELECT k, (SELECT max(v) FROM nd_probe_src) m FROM range(5) t(k)")),
      "a deterministic scalar subquery must not force the persist")
    // Plan-level: which rows survive an unsorted limit or a sample
    // depends on scheduling, even though no expression is marked
    // non-deterministic.
    assert(Pipeline.nonDeterministic(det.limit(3)),
      "a limit over unordered input is scheduling-dependent")
    assert(!Pipeline.nonDeterministic(
      det.orderBy(col("k")).limit(3).select(col("k"))),
      "a sort-enforced limit re-derives identically")
    assert(Pipeline.nonDeterministic(det.sample(0.5)),
      "a sampled source must be materialized once per attempt")
    // A partition-local sort enforces no total order — a limit above it
    // is still scheduling-dependent.
    assert(Pipeline.nonDeterministic(
      det.sortWithinPartitions(col("k")).limit(3)),
      "sortWithinPartitions + limit must not pass as deterministic")
    // dropDuplicates on a key subset keeps an arbitrary survivor per
    // key; full-row distinct is set semantics.
    val kv = spark.range(5).toDF("k").withColumn("v", col("k") * 2)
    assert(Pipeline.nonDeterministic(kv.dropDuplicates("k")),
      "key-subset dropDuplicates keeps an arbitrary row per key")
    assert(!Pipeline.nonDeterministic(kv.distinct()),
      "full-row distinct re-derives identically")
  }

  test("commit lock is conf-selectable: spark.graft.commit.lock installs " +
      "the named class") {
    spark.conf.set("spark.graft.commit.lock",
      "graft.storage.FileLockCommitLock")
    try concurrentMergeCase("inc_concurrent_conf_lock")
    finally spark.conf.unset("spark.graft.commit.lock")
  }

  test("incremental fail expectation aborts BEFORE the snapshot swap") {
    spark.sql("DROP TABLE IF EXISTS inc_guarded")
    val nonneg = Seq(DQ.fail("nonneg", col("amount") >= 0))
    incPipe("inc_guarded", Seq(("o1", 10.0, "NEW")), nonneg).run(spark)
    intercept[ExpectationViolation](
      incPipe("inc_guarded", Seq(("o2", -1.0, "BAD")), nonneg).run(spark))
    // The violating refresh must not have touched the committed version.
    val rows = spark.table("inc_guarded").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("o1"))
  }

  test("csv schemaLocation: persisted contract, rescue drift, then evolve") {
    import java.nio.file.Files
    import graft.ingest.CsvSource
    val base = SparkSpec.tempDir("graft_csv_evo_spec")
    val data = base.resolve("data"); Files.createDirectories(data)
    val schemas = base.resolve("schemas").toString
    Files.writeString(data.resolve("b1.csv"), "a,b\n1,x\n2,y\n")
    // Run 1 — first contact: infers (a int, b string), persists v0.
    val run1 = CsvSource.readEvolving(spark, data.toString, schemas)
    assert(Files.exists(java.nio.file.Paths.get(schemas, "v0.json")))
    assert(run1.schema.fieldNames.toSeq ===
      Seq("a", "b", CsvSource.RescueColumn))
    assert(run1.count() === 2)
    // Drift: a later batch appends column c.
    Files.writeString(data.resolve("b2.csv"), "a,b,c\n3,z,Q\n")
    // Run 2 (rescue contract): schema unchanged, c's values rescued.
    val run2 = CsvSource.readEvolving(spark, data.toString, schemas)
    assert(run2.schema.fieldNames.toSeq ===
      Seq("a", "b", CsvSource.RescueColumn))
    val rescued = run2.collect()
      .map(r => r.getInt(0) -> r.getString(2)).toMap
    assert(rescued(1) == null && rescued(2) == null)
    assert(rescued(3) === """{"c":"Q"}""")
    // Run 3 (evolve): widened schema persisted as v1, c now a column.
    val run3 = CsvSource.readEvolving(spark, data.toString, schemas,
      evolve = true)
    assert(Files.exists(java.nio.file.Paths.get(schemas, "v1.json")))
    assert(run3.schema.fieldNames.toSeq ===
      Seq("a", "b", "c", CsvSource.RescueColumn))
    val evolved = run3.collect()
      .map(r => r.getInt(0) -> Option(r.getString(2))).toMap
    assert(evolved(3) === Some("Q") && evolved(1).isEmpty)
    // Run 4: the widened contract persists — no rescue, no re-widening.
    val run4 = CsvSource.readEvolving(spark, data.toString, schemas)
    assert(run4.schema.fieldNames.toSeq ===
      Seq("a", "b", "c", CsvSource.RescueColumn))
    assert(run4.filter(org.apache.spark.sql.functions
      .col(CsvSource.RescueColumn).isNotNull).count() === 0)
  }

  test("csv conforming path: quoted headers, uppercase extensions and " +
      "empty directories all behave like the plain reader") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    import graft.ingest.CsvSource
    val base = SparkSpec.tempDir("graft_csv_conform_spec")
    val data = base.resolve("data"); Files.createDirectories(data)
    val schemas = base.resolve("schemas").toString
    // First contact persists the contract from an unquoted header.
    Files.writeString(data.resolve("b1.csv"), "a,b\n1,x\n")
    CsvSource.readEvolving(spark, data.toString, schemas)
    // A QUOTED header (RFC-4180: same columns the Spark parser sees)
    // and an UPPERCASE extension — the naive split/extension filter
    // used to mis-group the first (quotes kept -> column read as drift,
    // values nulled into the rescue JSON) and drop the second entirely.
    Files.writeString(data.resolve("b2.csv"), "\"a\",\"b\"\n2,y\n")
    Files.writeString(data.resolve("b3.CSV"), "a,b\n3,z\n")
    val out = CsvSource.readEvolving(spark, data.toString, schemas)
    val rows = out.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2)))
    assert(rows.map(t => (t._1, t._2)).toSet ===
      Set((1, "x"), (2, "y"), (3, "z")),
      "quoted-header or uppercase-extension files were dropped/mangled")
    assert(rows.forall(_._3 == null), "nothing here should rescue")
    // Empty directory: the conforming path must return an empty frame
    // with the contract schema, not crash on empty.reduce.
    val empty = base.resolve("empty"); Files.createDirectories(empty)
    val sch = StructType(Seq(StructField("a", IntegerType),
      StructField("b", StringType)))
    val e = CsvSource.readEvolving(spark, empty.toString, schemas)
    assert(e.count() === 0)
    // A schema with a DOT in a column name resolves through the rescue
    // plan (both the try_cast and the failure-detection halves).
    val dotData = base.resolve("dot"); Files.createDirectories(dotData)
    Files.writeString(dotData.resolve("d.csv"), "user.id,v\n7,ok\nbad,ok\n")
    val dotS = StructType(Seq(StructField("user.id", IntegerType),
      StructField("v", StringType)))
    val d = CsvSource.read(spark, dotData.toString, dotS).collect()
      .map(r => (Option(r.get(0)), r.getString(2))).toSet
    assert(d === Set((Some(7), null), (None, """{"user.id":"bad"}""")),
      "dot-named column broke the rescue plan")
  }

  test("topoOrder tolerates duplicated deps; an empty streaming source " +
      "still materializes an (empty) table") {
    import java.nio.file.Files
    // Duplicate deps used to strand the node at indegree 1 and report a
    // spurious cycle.
    val p = new Pipeline()
      .register(Dataset("a", Nil, (s, _) => s.range(1).toDF("x")))
      .register(Dataset("b", Seq("a", "a"),
        (_, up) => up("a")))
    assert(p.topoOrder === Seq("a", "b"))
    // A streaming Table over a source directory with no files: the
    // AvailableNow query terminates without a batch; the contract is an
    // empty TABLE, not TABLE_OR_VIEW_NOT_FOUND for every downstream.
    val emptyDir = SparkSpec.tempDir("graft_empty_stream_src")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType)))
    val tbl = "empty_stream_spec_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val p2 = new Pipeline().register(Dataset(tbl, Nil,
      (s, _) => s.readStream.schema(schema).option("header", "true")
        .csv(emptyDir.toString),
      materialize = Materialize.Table))
    val out = p2.run(spark)
    assert(out(tbl).count() === 0)
    assert(spark.table(tbl).schema.fieldNames.toSeq === Seq("k"))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("streaming csv under the persisted schema contract (Auto Loader shape)") {
    import java.nio.file.Files
    import graft.ingest.CsvSource
    import org.apache.spark.sql.streaming.OutputMode
    val base = SparkSpec.tempDir("graft_csv_evo_stream")
    val data = base.resolve("data"); Files.createDirectories(data)
    val schemas = base.resolve("schemas").toString
    Files.writeString(data.resolve("b1.csv"), "a,b\n1,x\n2,y\n")
    // Stream start = first contact: one batch inference pass seeds v0,
    // then the stream parses with the persisted contract + rescue plan.
    val s1 = graft.streaming.Streams.runToMemory(
      CsvSource.readStreamEvolving(spark, data.toString, schemas),
      "graft_evo_stream1", OutputMode.Append())
    assert(Files.exists(java.nio.file.Paths.get(schemas, "v0.json")))
    assert(s1.schema.fieldNames.toSeq ===
      Seq("a", "b", CsvSource.RescueColumn))
    assert(s1.count() === 2)
    // Drift + an evolve restart: the widened v1 contract drives the
    // restarted stream (evolution across restarts, as Auto Loader).
    Files.writeString(data.resolve("b2.csv"), "a,b,c\n3,z,Q\n")
    CsvSource.readEvolving(spark, data.toString, schemas, evolve = true)
    val s2 = graft.streaming.Streams.runToMemory(
      CsvSource.readStreamEvolving(spark, data.toString, schemas),
      "graft_evo_stream2", OutputMode.Append())
    assert(s2.schema.fieldNames.toSeq ===
      Seq("a", "b", "c", CsvSource.RescueColumn))
    assert(s2.count() === 3)
    assert(s2.filter(org.apache.spark.sql.functions.col("c") === "Q")
      .count() === 1)
  }

  test("maxFilesPerTrigger bounds the files ingested per micro-batch") {
    import java.nio.file.Files
    import graft.ingest.CsvSource
    import org.apache.spark.sql.streaming.Trigger
    val base = SparkSpec.tempDir("graft_csv_mfpt")
    val data = base.resolve("data"); Files.createDirectories(data)
    val schemas = base.resolve("schemas").toString
    (1 to 4).foreach(i =>
      Files.writeString(data.resolve(s"f$i.csv"), s"a,b\n$i,x$i\n"))
    def batchSizes(maxFiles: Int): Seq[Long] = {
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = CsvSource.readStreamEvolving(
          spark, data.toString, schemas, maxFilesPerTrigger = maxFiles)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          sizes += b.count(); () }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          SparkSpec.tempDir("graft_mfpt_ckpt").toString)
        .start()
      q.awaitTermination()
      sizes.toSeq
    }
    // Unbounded: the whole 4-file backlog lands in one batch. Bounded to
    // one file per trigger: four single-row batches — progress (and the
    // checkpoint) advances per file, Auto Loader's
    // cloudFiles.maxFilesPerTrigger contract.
    assert(batchSizes(0) === Seq(4L))
    assert(batchSizes(1) === Seq(1L, 1L, 1L, 1L))
  }

  test("silver tables carry the reference's audit columns (injected clock)") {
    import org.apache.spark.sql.functions.{col, date_format}
    val n = graft.olist.OlistMaterialized.ensure(spark, Sf0001)
    val expected = Seq(
      n.silverOrders -> "processed_date",        // Silver_orders.py:41
      n.silverItems -> "processed_timestamp",    // Silver_order_items.py:60
      n.silverCustomers -> "modified_timestamp", // silver_customers.py:79
      n.silverProducts -> "processed_timestamp", // silver_products.py:116
      n.silverSellers -> "processed_timestamp",  // silver_sellers.py:112
      n.silverPayments -> "modified_timestamp",  // order_payments.py:55
      n.silverReviews -> "processed_timestamp")  // order_reviews.py:78
    for ((tbl, c) <- expected) {
      val df = spark.table(tbl)
      val f = df.schema.fields.find(_.name == c)
      assert(f.exists(_.dataType ==
        org.apache.spark.sql.types.TimestampType),
        s"$tbl misses timestamp audit column $c: ${df.schema.simpleString}")
      // The injected clock freezes every row at the audit epoch (session
      // tz is UTC), which is what keeps the oracle hash deterministic.
      val vals = df.select(
        date_format(col(c), "yyyy-MM-dd HH:mm:ss").as("t"))
        .distinct().collect().map(_.getString(0)).toSeq
      assert(vals == Seq(graft.olist.OlistSilver.AuditEpoch),
        s"$tbl audit clock not frozen: $vals")
    }
  }

  test("tableProperties record informational constraint metadata") {
    spark.sql("DROP TABLE IF EXISTS props_gold")
    import spark.implicits._
    val df = Seq(("k1", 1L)).toDF("key", "n")
    new Pipeline().register(Dataset("props_gold", Nil, (_, _) => df,
      materialize = Materialize.MaterializedView,
      tableProperties = Map(
        "constraint.pk_props_gold" -> "PRIMARY KEY (key) NOT ENFORCED",
        "layer" -> "analytics"))).run(spark)
    val props = spark.sql("SHOW TBLPROPERTIES props_gold").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("constraint.pk_props_gold") === "PRIMARY KEY (key) NOT ENFORCED")
    assert(props("layer") === "analytics")
    // A snapshot-committed table's declared delta.targetFileSize
    // outlives its catalog entry: the session catalog is in-memory, so
    // a new process re-registers the table from its location with no
    // user TBLPROPERTIES, and OPTIMIZE must then read the root
    // `_properties` sidecar.
    import graft.storage.{Optimize, SnapshotCommit}
    val inc = "props_inc_tbl"
    SnapshotCommit.destroy(spark, inc)
    // Incompressible 64-hex values (~300 KB raw): the declared 16 KiB
    // target splits them into many files, the 128 MiB default into one.
    new Pipeline().register(Dataset(inc, Nil,
      (_, _) => spark.range(0, 5000).select(col("id").as("k"),
        sha2(col("id").cast("string"), 256).as("v")),
      materialize = Materialize.Incremental(Seq("k")),
      tableProperties = Map(
        Optimize.TargetFileSizeProp -> (16 * 1024).toString))).run(spark)
    spark.sql(s"DROP TABLE $inc") // what a new process starts without
    assert(SnapshotCommit.register(spark, inc).isDefined)
    assert(!spark.sql(s"SHOW TBLPROPERTIES $inc").collect()
      .exists(_.getString(0) == Optimize.TargetFileSizeProp))
    assert(SnapshotCommit.properties(spark, inc) ===
      Map(Optimize.TargetFileSizeProp -> "16384"))
    val (_, na) = Optimize.compact(spark, inc)
    assert(na >= 4,
      s"compacted to $na file(s) — the sidecar's 16 KiB target was ignored")
    assert(spark.table(inc).count() === 5000)
    SnapshotCommit.destroy(spark, inc)
  }

  test("streamDedupGate admits min doc_id per fingerprint and rejects " +
      "cross-batch re-arrivals") {
    import org.apache.spark.sql.functions._
    val gate = graft.streaming.Streams.streamDedupGate(spark, Sf0001)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    // Batch-computed expectation with the same key expression.
    val expected = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("doc_id"),
        graft.text.TextFunctions.rollingHash(array_join(
          slice(filter(split(trim(col("text")), " +"),
            t => length(t) > 0), 1, 15), " ")).as("fp"))
    val groups = expected.groupBy("fp")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(gate.size === groups.length) // one survivor per fingerprint
    groups.foreach { case (fp, mn, _, _) =>
      assert(gate(fp) === mn, s"fingerprint $fp admitted ${gate(fp)}, " +
        s"expected the first arrival $mn")
    }
    // The data property that makes this a STATE test, not a same-batch
    // min: at least one collision group spans doc_ids further apart than
    // a range partition's width (500 docs / 4 files), so its later
    // member arrived in a LATER micro-batch and was rejected by the
    // admit ledger, not by the in-batch reduction.
    assert(groups.exists { case (_, mn, mx, n) => n > 1 && mx - mn > 130 },
      "no collision group spans micro-batches — the cross-batch reject " +
        "path went unexercised")
  }

  test("quarantine disposition: violators route to <name>__quarantine " +
      "with sorted tags, clean rows commit, fail still aborts pre-write") {
    import spark.implicits._
    def src(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq(("o1", 10.0, "NEW"), ("o2", -4.0, "NEW"),
        ("o3", 500.0, "NEW"), ("o4", -1.0, "BAD"))
        .toDF("order_id", "amount", "status")
    }
    val exps = Seq(
      DQ.quarantine("nonneg_amount", col("amount") >= 0),
      DQ.quarantine("status_ok", col("status") =!= "BAD"),
      DQ.warn("cap", col("amount") <= 100))
    new Pipeline().register(Dataset("q_orders", Nil, (s, _) => src(s),
      expectations = exps, materialize = Materialize.Table)).run(spark)
    // Clean side: only o1 and o3 pass both quarantine rules (o3 merely
    // warns); violators never land in the table.
    assert(spark.table("q_orders").select("order_id").as[String]
      .collect().sorted === Array("o1", "o3"))
    // Routed side: tagged with the SORTED names of every broken rule —
    // o4 violates both.
    val q = spark.table("q_orders__quarantine")
      .select(col("order_id"), array_join(col("_violated"), ",").as("v"))
      .as[(String, String)].collect().sortBy(_._1)
    assert(q === Array(("o2", "nonneg_amount"),
      ("o4", "nonneg_amount,status_ok")))
    // Re-run: full refresh overwrites both sides — no duplication.
    new Pipeline().register(Dataset("q_orders", Nil, (s, _) => src(s),
      expectations = exps, materialize = Materialize.Table)).run(spark)
    assert(spark.table("q_orders").count() === 2)
    assert(spark.table("q_orders__quarantine").count() === 2)
    // A Fail violation aborts BEFORE any write — including the
    // quarantine sink: neither table of a fresh dataset appears.
    val failing = new Pipeline().register(Dataset("q_fail_orders", Nil,
      (s, _) => src(s),
      expectations = exps :+ DQ.fail("no_bad_status", col("status") =!= "BAD"),
      materialize = Materialize.Table))
    intercept[ExpectationViolation](failing.run(spark))
    assert(!spark.catalog.tableExists("q_fail_orders"))
    assert(!spark.catalog.tableExists("q_fail_orders__quarantine"))
    Seq("q_orders", "q_orders__quarantine").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("incremental quarantine retains history: each merge upserts this " +
      "run's violators by key, prior runs' routed rows survive") {
    import spark.implicits._
    def run(rows: Seq[(String, Double, String)]): Unit =
      new Pipeline().register(Dataset("inc_q_orders", Nil,
        (s, _) => { import s.implicits._
          rows.toDF("order_id", "amount", "status") },
        expectations = Seq(
          DQ.quarantine("nonneg_amount", col("amount") >= 0)),
        materialize = Materialize.Incremental(Seq("order_id")))).run(spark)
    graft.storage.SnapshotCommit.destroy(spark, "inc_q_orders")
    spark.sql("DROP TABLE IF EXISTS inc_q_orders__quarantine")
    // Run 1: v1 violates; run 2 (disjoint keys): v2 violates — BOTH
    // must be present afterwards (an overwrite would destroy v1).
    run(Seq(("o1", 10.0, "NEW"), ("v1", -4.0, "NEW")))
    run(Seq(("o2", 20.0, "NEW"), ("v2", -9.0, "NEW")))
    val q = spark.table("inc_q_orders__quarantine")
      .select("order_id", "amount").as[(String, Double)]
      .collect().sortBy(_._1)
    assert(q.map(_._1).toSeq === Seq("v1", "v2"),
      s"incremental quarantine lost history: ${q.toSeq}")
    // Re-running run 2 is idempotent (SCD1 upsert, no duplicates), and
    // a key that violates AGAIN replaces its prior routed row whole.
    run(Seq(("o2", 20.0, "NEW"), ("v2", -7.0, "NEW")))
    val q2 = spark.table("inc_q_orders__quarantine")
      .select("order_id", "amount").as[(String, Double)]
      .collect().sortBy(_._1)
    assert(q2.toSeq === Seq(("v1", -4.0), ("v2", -7.0)))
    // Main table: clean rows accumulate, violators never land.
    assert(spark.table("inc_q_orders").select("order_id").as[String]
      .collect().sorted === Array("o1", "o2"))
    graft.storage.SnapshotCommit.destroy(spark, "inc_q_orders")
    spark.sql("DROP TABLE IF EXISTS inc_q_orders__quarantine")
  }

  test("non-deterministic build with quarantine rules: the split is " +
      "computed once — every row lands in exactly one table") {
    import org.apache.spark.sql.functions._
    val exps = Seq(graft.dq.Expectations.quarantine("coin",
      col("v") >= 0.5))
    new Pipeline().register(Dataset("nd_q_orders", Nil,
      (s, _) => s.range(0, 1000).select(col("id"), rand().as("v")),
      expectations = exps, materialize = Materialize.Table)).run(spark)
    val main = spark.table("nd_q_orders").select("id")
    val quar = spark.table("nd_q_orders__quarantine").select("id")
    // Without forced staging the two writes would re-draw rand() and
    // rows would vanish from (or duplicate into) the union.
    assert(main.count() + quar.count() === 1000L,
      "main + quarantine must exactly partition the input")
    assert(main.intersect(quar).count() === 0L)
    Seq("nd_q_orders", "nd_q_orders__quarantine").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("SnapshotSink: a replayed micro-batch commits nothing — rows and " +
      "progress marker are one atomic version, no marker gap") {
    import org.apache.spark.sql.functions._
    import graft.streaming.SnapshotSink
    import graft.storage.SnapshotCommit
    val tbl = "snap_sink_tbl"
    SnapshotCommit.destroy(spark, tbl)
    val b0 = spark.range(0, 100).select(col("id"))
    val b1 = spark.range(100, 150).select(col("id"))
    assert(SnapshotSink.append(spark, tbl, 0L, b0))
    assert(SnapshotSink.lastBatchId(spark, tbl) === 0L)
    assert(spark.table(tbl).count() === 100L)
    // Crash-replay of the SAME batch (checkpoint behind the sink): the
    // recorded batch id skips it — no new version, no duplicate rows.
    val v1 = SnapshotCommit.currentVersion(spark, tbl)
    assert(!SnapshotSink.append(spark, tbl, 0L, b0))
    assert(SnapshotCommit.currentVersion(spark, tbl) === v1)
    assert(spark.table(tbl).count() === 100L)
    // The next batch commits: prior files carried, new rows appended.
    assert(SnapshotSink.append(spark, tbl, 1L, b1))
    assert(spark.table(tbl).count() === 150L)
    assert(SnapshotSink.lastBatchId(spark, tbl) === 1L)
    // An out-of-order replay of an OLDER id after newer progress also
    // skips (ids are monotone per checkpoint).
    assert(!SnapshotSink.append(spark, tbl, 0L, b0))
    assert(spark.table(tbl).count() === 150L)
    // Sidecar composition across the lifecycle: a DV delete between
    // batches must survive the NEXT append (the append carries _dv —
    // no resurrection), and maintenance must not shed the progress
    // marker (a compaction that dropped _batchid would re-open the
    // exactly-once hole on the next crash-replay).
    graft.storage.DeletionVectors.delete(spark, tbl, col("id") < 10)
    assert(graft.storage.DeletionVectors.read(spark, tbl).count() === 140L)
    assert(SnapshotSink.lastBatchId(spark, tbl) === 1L,
      "DV delete shed the progress marker")
    assert(SnapshotSink.append(spark, tbl, 2L, spark.range(150, 160)
      .select(col("id"))))
    assert(graft.storage.DeletionVectors.read(spark, tbl).count() === 150L,
      "append resurrected DV-deleted rows or lost data")
    assert(graft.storage.DeletionVectors.read(spark, tbl)
      .filter(col("id") < 10).count() === 0L)
    graft.storage.Optimize.compact(spark, tbl)
    assert(SnapshotSink.lastBatchId(spark, tbl) === 2L,
      "compaction shed the progress marker")
    assert(!SnapshotSink.append(spark, tbl, 2L, b1),
      "post-compaction replay re-appended a committed batch")
    assert(spark.table(tbl).count() === 150L)
    SnapshotCommit.destroy(spark, tbl)
    // An EMPTY first micro-batch into a fresh table (zero partitions,
    // and several empty ones), then a non-empty one: both versions
    // register and read, the first with no rows and the batch's schema.
    val fresh = "snap_sink_empty_first"
    Seq(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], b0.schema),
      spark.range(0, 0, 1, 3).select(col("id"))).foreach { empty =>
      SnapshotCommit.destroy(spark, fresh)
      assert(SnapshotSink.append(spark, fresh, 0L, empty))
      assert(spark.table(fresh).count() === 0L)
      assert(SnapshotSink.append(spark, fresh, 1L, b1))
      val Seq(first, second) = SnapshotCommit.publishedVersions(spark, fresh)
      def at(v: Long) = spark.read.parquet(
        SnapshotCommit.resolveDir(spark, fresh, v).get.toString)
      assert(at(first).count() === 0L)
      assert(at(first).schema.fieldNames.toSeq === Seq("id"))
      assert(at(second).count() === 50L)
      assert(spark.table(fresh).count() === 50L)
    }
    SnapshotCommit.destroy(spark, fresh)
  }

  test("streaming quarantine: per-batch routing rides the idempotence " +
      "markers — a re-run duplicates nothing on either side") {
    val p = new Pipeline()
      .register(Dataset("stream_q_orders", Nil,
        (s, _) => CsvSource.readStream(s, csvDir, bronzeSchema),
        expectations = Seq(
          DQ.quarantine("nonneg_amount",
            col("amount") >= 0 || col("amount").isNull)),
        materialize = Materialize.Table))
    p.run(spark)
    // Fixture: o4 (-5.00) quarantined; o1, o2, o2, o3(null amount) clean.
    val main1 = spark.table("stream_q_orders").count()
    assert(main1 === 4)
    val q1 = spark.table("stream_q_orders__quarantine").collect()
    assert(q1.length === 1)
    assert(q1.head.getAs[String]("order_id") === "o4")
    assert(q1.head.getAs[Seq[String]]("_violated") === Seq("nonneg_amount"))
    // Second run over the same source: the checkpoint has seen every
    // file — neither table grows.
    p.run(spark)
    assert(spark.table("stream_q_orders").count() === main1)
    assert(spark.table("stream_q_orders__quarantine").count() === 1)
    Seq("stream_q_orders", "stream_q_orders__quarantine").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
