package graft

import org.apache.spark.sql.functions._

import graft.queries.Catalog

/** Plan-shape assertions for the scale-critical paths added in round 3:
  * the point of a native sketch or a de-fused aggregation is the PLAN it
  * produces, so a regression that silently reintroduces the expensive
  * shape must fail the build even while values stay correct.
  */
class PlanSpec extends SparkSpec {

  private def executedPlan(name: String): String = {
    val df = Catalog.queries(name)(spark, Sf0001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("a1_group_agg: no Expand (countDistinct de-fused from collect_set)") {
    val plan = executedPlan("a1_group_agg")
    assert(!plan.contains("Expand"),
      s"countDistinct re-fused into the collect_set aggregation:\n$plan")
  }

  test("d3_minhash_lsh: no wide signature aggregate — sketches are per-row") {
    val plan = executedPlan("d3_minhash_lsh")
    // The old explode + 128-min-aggregate signature build carried mh_0..
    // mh_127 aggregate buffers; the native expression must keep them out.
    assert(!plan.contains("mh_0"),
      s"column-based minhash signature aggregation is back:\n$plan")
    assert(plan.contains("graft_minhash_band_keys"),
      s"native band-keys expression missing from plan:\n$plan")
  }

  test("d4_simhash: majority vote is per-row, not a 64-sum aggregate") {
    val plan = executedPlan("d4_simhash")
    assert(!plan.contains("b63"),
      s"column-based simhash bit aggregation is back:\n$plan")
    assert(plan.contains("graft_simhash"),
      s"native simhash expression missing from plan:\n$plan")
  }

  test("s3_ann_ivf: cell assignment is expression-only (no exchange, no join)") {
    // The IVF quantizer is a literal codebook: assignment must run
    // inside the scan's stage. Only the probe join and the tiny
    // query-side window may shuffle.
    val base = graft.core.Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"), col("embedding"),
        graft.similarity.VectorFunctions.normN(col("embedding")).as("nrm"))
    val cells = base.withColumn("cell",
      graft.similarity.VectorFunctions.ivfCell(
        Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
        col("embedding"), col("nrm")))
    cells.collect()
    val plan = cells.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"IVF cell assignment must not shuffle:\n$plan")
    assert(!plan.contains("Join"),
      s"IVF cell assignment must not join:\n$plan")
  }

  test("j3_fact_star: dimension joins broadcast (no shuffle of the dims)") {
    val plan = executedPlan("j3_fact_star")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast dim joins in the star build:\n$plan")
  }

  test("j3_fact_star: fact side exchanges once per key — 6 hash exchanges") {
    // All l_orderkey-keyed joins (orders, order_totals, order_flags)
    // run contiguously, so the growing fact side is re-partitioned
    // exactly twice: onto l_orderkey once, onto o_custkey once. Static
    // (pre-AQE) shape: li + orders + the two CTE aggregations on
    // orderkey, then fact->custkey + customer = 6 hash exchanges. The
    // old interleaved order (orderkey -> custkey -> orderkey) planned
    // 7, re-shuffling the full-width fact an extra time — the r4
    // verdict's one scale-killer.
    val df = Catalog.queries("j3_fact_star")(spark, Sf0001)
    val plan = df.queryExecution.sparkPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n <= 6, s"fact star plans $n hash exchanges (expected <= 6):\n$plan")
  }

  test("t1_token_stats: pure projection — no exchange at all") {
    val plan = executedPlan("t1_token_stats")
    assert(!plan.contains("Exchange"),
      s"per-row text analysis must not shuffle:\n$plan")
  }

  test("j15_shuffle_hash: the hint forces a ShuffledHashJoin") {
    val plan = executedPlan("j15_shuffle_hash")
    assert(plan.contains("ShuffledHashJoin"),
      s"shuffle_hash hint not honored:\n$plan")
  }

  test("c2_stratified_sample: pure pushdown filter — no exchange") {
    val plan = executedPlan("c2_stratified_sample")
    assert(!plan.contains("Exchange"),
      s"hash sampling must stay a per-row filter:\n$plan")
  }

  test("j16_exists: EXISTS/NOT EXISTS planned as semi + anti joins") {
    val plan = executedPlan("j16_exists")
    assert(plan.contains("LeftSemi"),
      s"EXISTS did not lower to a left-semi join:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"NOT EXISTS did not lower to a left-anti join:\n$plan")
  }

  test("hll1: portable sketch estimate within 20% of exact per group") {
    // m=64 registers -> 1.04/sqrt(64) ~ 13% theoretical standard error;
    // 20% bounds every group at this scale. (The oracle pins exact
    // VALUES; this pins the statistical CONTRACT the values must keep.)
    Catalog.queries("hll1_approx_distinct")(spark, Sf0001).collect()
      .foreach { r =>
        val est = r.getAs[Double]("hll_est")
        val exact = r.getAs[Long]("n_exact").toDouble
        assert(math.abs(est - exact) / exact < 0.20,
          s"${r.getString(0)}: est=$est exact=$exact")
      }
  }

  test("r1_recursive_cte: the walk reaches every part exactly once") {
    val rows = Catalog.queries("r1_recursive_cte")(spark, Sf0001)
    val n = spark.read.parquet(s"$Sf0001/part.parquet").count()
    assert(rows.count() === n)
    assert(rows.select("p_partkey").distinct().count() === n)
  }

  test("st9_stream_static: stream-static join equals the batch join") {
    val streamed = Catalog.queries("st9_stream_static")(spark, Sf0001)
    val ev = graft.core.Tables.events(spark, Sf0001)
    val dim = spark.read.parquet(s"$Sf0001/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    val batch = ev.join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("g6/g9 scan COMMITTED gold tables only — never the raw source dir") {
    // The medallion read path (VERDICT r3 #1): gold consumption must
    // read tables the Pipeline committed, not re-derive bronze+silver
    // inline. inputFiles IS the plan's scan set.
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    for ((q, marker) <- Seq(
      "g6_fact_order_items" -> "olist_gold_fact_order_items",
      "g9_revenue_rollup" -> "olist_gold_dim_customers")) {
      val df = Catalog.queries(q)(spark, Sf0001)
      val files = df.inputFiles
      assert(files.nonEmpty, s"$q: no scan inputs")
      assert(files.forall(!_.contains("/root/testdata")),
        s"$q still scans the raw source dir:\n${files.mkString("\n")}")
      assert(files.forall(_.contains(new java.io.File(wh).getName)),
        s"$q scans outside the warehouse:\n${files.mkString("\n")}")
      assert(files.exists(_.contains(marker)),
        s"$q misses the committed table $marker:\n${files.mkString("\n")}")
    }
  }

  test("approx_count_distinct tracks exact within 5% (the 100-TB path for a1)") {
    // Not oracle-checked (HLL sketches differ across engines), so the
    // accuracy contract is pinned here instead.
    val li = spark.read.parquet(s"$Sf0001/lineitem.parquet")
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx")).collect()(0)
    val (exact, approx) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("d9_bloom_decontaminate: the train side is a pure scan — no joins") {
    // The Bloom bitset travels as a literal, so the executed plan must
    // contain NO join anywhere: shingle probes are per-row expressions
    // and the only exchange is the per-doc rollup.
    val plan = executedPlan("d9_bloom_decontaminate")
    assert(!plan.contains("Join"),
      s"bloom decontamination regressed to a join plan:\n$plan")
  }

  test("j17_lateral decorrelates: no nested-loop or cartesian join") {
    val plan = executedPlan("j17_lateral")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"lateral subquery failed to decorrelate:\n$plan")
  }

  test("AQE splits the skewed join partition (the unsalted skew path)") {
    // a11 proves the MANUAL salt; this pins the runtime complement: an
    // unsalted shuffle join whose hot key dwarfs the median partition is
    // re-planned by AQE's skew-join rule into split reads (the plan's
    // AQEShuffleRead reports `skewed`) — so at 100 TB an unforeseen hot
    // key degrades to extra parallel splits, not one straggler task.
    // Thresholds are production-default RATIOS scaled down to test bytes.
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "8KB")
      spark.conf.set(keys(1), "4KB")
      spark.conf.set(keys(2), "-1")    // force the shuffle join both ways
      spark.conf.set(keys(3), "-1")
      // repartition(8) first: AQE splits a skewed reduce partition at
      // MAPPER-block granularity, and a single-file scan is one mapper
      // — with one block per reduce partition there is nothing to split.
      val li = spark.read.parquet(s"$Sf0001/lineitem.parquet").repartition(8)
      // ~2/3 of all rows pile onto key 7777 — the hot-key shape.
      val left = li.select(
        when(col("l_orderkey") % 3 =!= 0, lit(7777L))
          .otherwise(col("l_orderkey") % 997).as("k"),
        col("l_quantity"), col("l_extendedprice"), col("l_shipdate"))
      val right = spark.range(0, 8000)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = left.join(right, "k")
        .agg(sum(col("l_quantity") * col("v")).as("s"),
          // keep the payload columns alive through the join so column
          // pruning can't shrink the hot partition under the threshold
          sum(col("l_extendedprice")).as("s2"), max(col("l_shipdate")).as("d"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skewed"),
        s"AQE skew-join split did not fire on the hot key:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("c8_corpus_pipeline: no nested loop; eval n-grams broadcast") {
    // The end-to-end curation plan must stay join-disciplined at 100 TB:
    // no cartesian/nested-loop anywhere, and the decontamination stage's
    // eval shingle set reaches the train side as a BROADCAST (the train
    // corpus is never shuffled by the n-gram join).
    val plan = executedPlan("c8_corpus_pipeline")
    assert(!plan.contains("CartesianProduct"),
      s"corpus pipeline plans a cartesian product:\n$plan")
    // The ONLY nested-loop join allowed is the 1-row corpus-totals
    // scalar broadcast (the temperature-quota crossJoin); a second one
    // would mean a data-sized join degraded. Count only the FINAL
    // adaptive plan — the string repeats every node in its
    // "Initial Plan" section.
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(finalPlan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1,
      s"a data-sized join degraded to a nested loop:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"no broadcast join in the pipeline plan:\n$plan")
  }

  test("t14_bm25: the top-k is TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan("t14_bm25")
    assert(plan.contains("TakeOrderedAndProject"),
      s"BM25 top-k executed as a global sort:\n$plan")
  }

  test("CBO: ANALYZE column stats flip a filtered-dim join to broadcast") {
    // Without statistics the planner sizes a filtered dim by its FILE
    // bytes — the filter's selectivity is invisible, the dim misses the
    // broadcast threshold, and the join shuffles BOTH sides. ANALYZE ...
    // FOR ALL COLUMNS + CBO gives the optimizer per-column NDV/ranges,
    // the filter estimate shrinks below the threshold, and the same
    // query plans a broadcast join with zero fact-side shuffle — at
    // 100 TB, collected table stats are what save the full-fact
    // exchange whenever a dim arrives filtered. AQE off so the test
    // pins the STATIC (compile-time) decision, not the runtime rescue.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    ss.conf.set("spark.sql.cbo.enabled", "true")
    ss.conf.set("spark.sql.cbo.planStats.enabled", "true")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
    val tbl = "orders_cbo_spec"
    ss.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.core.CatalogUtil.dropOrphanLocation(ss, tbl)
    // sf0.01 so the UNfiltered dim file is safely above the threshold;
    // the filter (status + a ~1% key range) is what stats must surface.
    ss.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.format("parquet").saveAsTable(tbl)
    val maxKey = ss.table(tbl).agg(max(col("o_orderkey"))).head().getLong(0)
    val li = ss.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    def plan(): String = {
      val q = li.join(
        ss.table(tbl).filter(col("o_orderstatus") === "P"
          && col("o_orderkey") <= maxKey / 100),
        col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("l_quantity")).as("q"))
      q.queryExecution.executedPlan.toString
    }
    val before = plan()
    assert(before.contains("SortMergeJoin") || before.contains("ShuffledHashJoin"),
      s"expected a shuffle join before ANALYZE:\n$before")
    ss.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
    val after = plan()
    assert(after.contains("BroadcastHashJoin"),
      s"column stats did not flip the filtered dim to broadcast:\n$after")
    ss.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("b5_dpp: the fact scan carries a runtime DPP partition filter") {
    // b2 pins STATIC partition pruning (literal predicate on the
    // partition column); this pins the runtime complement: a join
    // against a dim whose filter Catalyst cannot evaluate statically
    // must inject a DynamicPruningExpression into the partitioned fact
    // scan, fed from the dim's broadcast — the mechanism that prunes a
    // partitioned 100 TB fact under "WHERE dim.attribute = …" queries.
    val plan = executedPlan("b5_dpp")
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"dynamic partition pruning did not fire on the fact scan:\n$plan")
  }

  test("s2_ann_lsh: codes come from the native SrpCode kernel") {
    // The composed 64-dot-kernel form costs seconds of codegen per stage
    // (and its 548-element probe CreateArray used to fail janino and run
    // interpreted) — the plan must carry the single-evaluator kernel.
    val plan = executedPlan("s2_ann_lsh")
    assert(plan.contains("graft_srp_code"),
      s"native SRP kernel missing from the s2 plan:\n$plan")
  }

  test("a14_stats_agg: all moments ride a single hash-agg pass") {
    // Six decimal moment sums aggregate in ONE pass with map-side
    // partials; a regression that splits the moments into separate
    // aggregations (or re-shuffles for the assembly projection) would
    // multiply the only data pass. Allowed exchanges: the group-key
    // exchange and (at bench scale) the keyed widen exchange on
    // l_orderkey (r18 — a scale-gated scan-parallelism repair, not a
    // second aggregation pass); exactly ONE partial+final HashAggregate
    // pair must carry all six sums.
    val df = Catalog.queries("a14_stats_agg")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val n = "Exchange hashpartitioning\\(l_returnflag".r
      .findAllIn(plan).length
    assert(n == 1, s"expected one moment-sum exchange, found $n:\n$plan")
    val partials = "partial_sum".r.findAllIn(plan).length
    assert(partials == 5, // 5 sums + 1 count share one partial agg
      s"expected the five moment partial_sums in one aggregate:\n$plan")
  }

  test("m4_phash_dedup: one exchange — hash per-row, group on the code") {
    // The perceptual hash is a per-partition pass; the ONLY shuffle is
    // the phash window. A second exchange would mean the hash stopped
    // being computed inline with the scan.
    val df = Catalog.queries("m4_phash_dedup")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected only the phash-window exchange, found $n:\n$plan")
  }

  test("j20_runtime_bloom: the fact scan carries the injected bloom filter") {
    // With broadcast off, InjectRuntimeFilter must plant might_contain
    // over the fact side's join key, fed from the filtered dim — the
    // shuffle-reduction mechanism for selective-but-unbroadcastable
    // dims at 100 TB. The join itself must NOT be a broadcast join
    // (that would be a different mechanism hiding this one).
    val df = Catalog.queries("j20_runtime_bloom")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.toLowerCase.contains("might_contain"),
      s"runtime bloom filter was not injected into the fact side:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"join fell back to broadcast — the runtime-filter demo is moot:\n$plan")
  }

  test("b8_bucketed_ann: the probe never shuffles the corpus side") {
    // The README's 100 TB composition: band keys are computed at ingest
    // and the banded index is STORED bucketed by them, so the probe is
    // a bucket-local sort-merge join — the corpus side is consumed
    // straight from bucket files with no Exchange and no Sort (the
    // one-file-per-bucket sortBy order feeds the merge); only the tiny
    // query-side probe set shuffles. This is the plan shape that makes
    // the probe O(probe set), not O(corpus), at any corpus size.
    val df = graft.queries.SimilarityQueries.b8Candidates(spark, Sf0001)
    df.collect()
    // AQE's toString appends the pre-execution plan after an
    // "== Initial Plan ==" divider — count nodes in the FINAL plan only.
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("SortMergeJoin"),
      s"candidate probe must be the bucket-to-bucket SMJ:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"expected exactly the probe-side exchange, found $shuffles:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"broadcast would hide the bucket layout under test:\n$plan")
    // Exactly one Sort: the probe side. A second Sort means the scan
    // stopped reporting the buckets' sortBy order (e.g. multi-file
    // buckets) and the corpus is being re-sorted at query time.
    val sorts = "Sort \\[".r.findAllIn(plan).length
    assert(sorts == 1,
      s"expected only the probe-side sort, found $sorts:\n$plan")
    // And the corpus scan itself reads bucket files directly.
    assert(plan.contains("Bucketed: true"),
      s"corpus scan is not bucket-aware:\n$plan")
  }

  test("j21_salted_skew_join: the salt is in the join key and the dim " +
      "does not broadcast") {
    // The salted plan's whole point: the hot key's rows hash to 8
    // DIFFERENT partitions because _salt participates in the join
    // keys, and the join stays a shuffle join (a broadcast would make
    // the salting vacuous at test scale and hide a regression).
    val df = Catalog.queries("j21_salted_skew_join")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ShuffledHashJoin") &&
      "ShuffledHashJoin \\[k.*_salt".r.findFirstIn(plan).isDefined,
      s"expected a shuffle join keyed on (k, _salt):\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"dim side broadcast — salting under test is vacuous:\n$plan")
  }

  test("d12_substring_dedup: every join is equi — no nested loop, no " +
      "cartesian, and no corpus-wide unpartitioned window") {
    // The ExactSubstr shape's scale contract: the first-wins window
    // partitions on (hash, window text), the dropped-position anti-join
    // is an equi-join on (doc_id, idx) — a plan regression to a
    // nested-loop/cartesian (e.g. a broken join condition) or to an
    // un-partitioned window would turn the linear pipeline quadratic
    // or single-partition.
    val df = Catalog.queries("d12_substring_dedup")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"d12 planned a non-equi join:\n$plan")
    assert(!plan.contains("Window [") ||
      !"Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(plan).isDefined,
      s"d12 planned an un-partitioned window:\n$plan")
  }

  test("c10_rag_assembly: the documents scan never shuffles — only the " +
      "per-query top-k does") {
    // The assembly stages (metadata join, source cap, budget pack)
    // operate on at most k rows per query: the documents table joins
    // via BROADCAST of that tiny side, and every Exchange in the plan
    // repartitions the top-k rows on q_id-derived keys — never the
    // corpus. A hash exchange count above 3 (rank window, source-cap
    // window, budget window/groupBy) means the documents scan leaked
    // into a shuffle.
    val df = Catalog.queries("c10_rag_assembly")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"documents must join the top-k side by broadcast:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 3,
      s"expected <= 3 tiny q_id-keyed exchanges, found $shuffles:\n$plan")
  }

  test("t19_zipf_coverage: top-100 is TakeOrdered and the term-count " +
      "exchange is shared by both consumers") {
    // Two branches consume the (term) hash-agg — the top-100 and the
    // corpus-total/vocab aggregate. The vocabulary must be top-k'd by
    // TakeOrderedAndProject (never globally sorted), and the count
    // exchange must be REUSED between the branches, not recomputed —
    // a second corpus scan at 100 TB would double the only data pass.
    val df = Catalog.queries("t19_zipf_coverage")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 must be a distributed top-k, not a global sort:\n$plan")
    assert(plan.contains("ReusedExchange") ||
        "Exchange hashpartitioning\\(term".r.findAllIn(plan).length == 1,
      s"term-count exchange recomputed per consumer:\n$plan")
  }

  test("w13_m4_downsample: one exchange — both windows and the agg ride " +
      "the (event_type, bin) clustering") {
    // The M4 shape exists to shrink a 100 TB stream in ONE shuffle:
    // first/last row_numbers partition on exactly the group-by keys,
    // so Catalyst must not insert a second exchange for the hash-agg.
    val df = Catalog.queries("w13_m4_downsample")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected one (event_type, bin) exchange, found $n:\n$plan")
  }

  test("m6_interleave: the only shuffle is the per-doc offset window") {
    // Both interleave branches are explode + arithmetic riding their
    // scans; the union needs no exchange; the running-offset window
    // clusters on doc_id — exactly one hash exchange in the plan.
    val df = Catalog.queries("m6_interleave")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected only the doc_id window exchange, found $n:\n$plan")
  }

  test("c13_stratified_split: both per-stratum windows ride ONE source " +
      "exchange — no quota join, no global sort") {
    // The split's scale contract: rank (row_number) and stratum count
    // (count(*)) share the SAME hashpartitioning(source) exchange — a
    // second exchange means the quota stopped riding the rank shuffle;
    // a global Sort or a join means someone reintroduced a separate
    // quota computation.
    val df = Catalog.queries("c13_stratified_split")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected the single source exchange, found $n:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort leaked into the split plan:\n$plan")
    assert(!plan.contains("Join"),
      s"split must not join a quota side:\n$plan")
  }

  test("w14_rolling_anomaly and e7_attribution: one user_id exchange " +
      "each, no join") {
    // Both are single-window detectors: baseline stats / carried touch
    // ride ONE hashpartitioning(user_id) exchange. A join appearing
    // means someone rewrote the carry as an as-of self-join (the shape
    // these entries exist to avoid); a second exchange means the
    // output projection stopped riding the window partitioning.
    for (name <- Seq("w14_rolling_anomaly", "e7_attribution")) {
      val df = Catalog.queries(name)(spark, Sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val n = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(n == 1, s"$name: expected one user_id exchange, found $n:\n$plan")
      assert(!plan.contains("Join"), s"$name planned a join:\n$plan")
    }
  }

  test("s18_rocchio_feedback: the corpus never shuffles — queries " +
      "broadcast on both retrieval passes") {
    // Both scoring passes join the tiny query side to the corpus by
    // broadcast; the only hash exchanges are q_id-keyed (two top-k
    // windows + the 10-row feedback groupBy). A corpus-keyed exchange
    // would mean the expansion accidentally repartitioned the big side.
    val df = Catalog.queries("s18_rocchio_feedback")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length >= 2,
      s"expected both passes to broadcast the query side:\n$plan")
    val badExchange = "Exchange hashpartitioning\\((?!q_id)".r
      .findFirstIn(plan)
    assert(badExchange.isEmpty,
      s"non-q_id hash exchange (corpus shuffled): $badExchange\n$plan")
  }

  test("t20_collocations: top-20 is TakeOrdered; no global window over " +
      "the vocabulary") {
    // The limit-then-rank pattern (s15/t19): the vocabulary-sized lift
    // frame reduces through TakeOrderedAndProject; the single-partition
    // rank window runs on the collected 20 rows only. A plan where the
    // rank's empty-partition window sits BELOW the limit would sort the
    // whole vocabulary on one partition at 100 TB.
    val df = Catalog.queries("t20_collocations")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must be a distributed top-k, not a global sort:\n$plan")
    val winIdx = plan.indexOf("Window [")
    val takeIdx = plan.indexOf("TakeOrderedAndProject")
    assert(winIdx >= 0 && takeIdx > winIdx,
      s"the 20-row rank window must consume the TakeOrdered output:\n$plan")
  }

  test("hll3_kmv_theta: every KMV aggregation is two-phase (map-side " +
      "partial merge), no distinct Expand on the sketch path") {
    // The sketch's whole point is that the k-long state partial-
    // aggregates before the shuffle: each of the three kmv aggs must
    // plan as partial + final ObjectHashAggregate pairs (the typed-UDAF
    // path), so the shuffle carries at most k longs per side, never
    // the key stream.
    val df = Catalog.queries("hll3_kmv_theta")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val partials =
      "objecthashaggregate\\(keys=\\[\\], functions=\\[partial_kmvaggregator"
        .r.findAllIn(plan.toLowerCase).length
    assert(partials >= 3,
      s"expected 3 partial KMV aggregations (a, b, union), got $partials:\n$plan")
  }

  test("a16_exact_mad: the median side broadcasts; no extra exchange " +
      "beyond the two rank windows") {
    // The MAD plan's shape contract: the 5-row per-group median frame
    // joins the value frame by BROADCAST (a shuffle join would
    // repartition the whole fact for 5 rows), and the only hash
    // exchanges are the two rank windows' group partitionings.
    val df = Catalog.queries("a16_exact_mad")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"median frame must broadcast:\n$plan")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n <= 2, s"expected <= 2 group-window exchanges, found $n:\n$plan")
  }

  test("a17_histogram_mad: one group exchange, map-side partial " +
      "histograms, no rank window anywhere") {
    // a16's unbounded-group swap must actually BE unbounded-safe: the
    // whole query is a single two-phase aggregation — partial
    // MedianMadHistogram states merge map-side, ONE hash exchange on
    // the group key moves fixed-size histograms, and no Window/Sort of
    // raw rows appears (a rank window would re-introduce the
    // rows-per-group bound this entry exists to remove).
    val df = Catalog.queries("a17_histogram_mad")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val lower = plan.toLowerCase
    assert(lower.contains("partial_medianmadhistogram"),
      s"histogram must partial-aggregate map-side:\n$plan")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n === 1, s"expected exactly 1 group exchange, found $n:\n$plan")
    assert(!plan.contains("Window ["),
      s"no rank window may appear in the unbounded-safe plan:\n$plan")
  }

  test("w15_interpolate: two RUNNING-frame Window passes, no " +
      "unbounded-following frame anywhere; exactly two exchanges") {
    // The forward carry must be a running frame over DESC order: an
    // unbounded-FOLLOWING frame re-scans the partition remainder per
    // row (UnboundedFollowingWindowFunctionFrame — O(rows²); measured
    // 28.5 s vs 1.0 s at sf0.1, and quadratic never finishes at
    // 100 TB). Two Window nodes (asc + desc carries), two sorts, and
    // both ride the same user_id partitioning — a third exchange means
    // a carry stopped riding the spine aggregation's partitioning.
    val df = Catalog.queries("w15_interpolate")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("unboundedfollowing"),
      s"quadratic unbounded-following frame leaked into w15:\n$plan")
    val w = "Window \\[".r.findAllIn(plan).length
    assert(w == 2, s"expected asc+desc Window passes, found $w:\n$plan")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 2,
      s"expected the hourly-agg + spine exchanges only, found $n:\n$plan")
  }

  test("c15_l_diversity: two-phase distinct aggregation — no Expand, " +
      "no join") {
    // The exact-l audit is one groupBy with a single distinct column:
    // Spark plans it as partial-on-(QI, user) then merge — an Expand
    // node appearing means a second distinct crept in (row blow-up per
    // distinct column); a Join means the diversity count stopped riding
    // the class aggregation.
    val df = Catalog.queries("c15_l_diversity")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Expand"), s"Expand leaked into c15:\n$plan")
    assert(!plan.contains("Join"), s"join leaked into c15:\n$plan")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n <= 2, s"expected <= 2 exchanges, found $n:\n$plan")
  }

  test("pr3_triangle_count: every join is an equi-join — no nested " +
      "loop, no cartesian anywhere in the wedge/closure plan") {
    // Degree orientation only bounds the WEDGE count; the plan must
    // still close wedges by hash-joining on the (v, w) composite key.
    // A BroadcastNestedLoopJoin or CartesianProduct appearing means the
    // closure predicate stopped being an equi-join and the entry went
    // all-pairs — the exact shape this algorithm exists to avoid.
    val df = Catalog.queries("pr3_triangle_count")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"),
      s"cartesian leaked into pr3:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join leaked into pr3:\n$plan")
  }

  test("b17_metadata_agg: the answer plan contains NO scan — the " +
      "aggregate is a one-row projection of sidecar literals") {
    // The entry's whole point is that min/max/count over the committed
    // table never touches data: a Scan parquet appearing means the
    // MetadataAggRule stopped matching this query (type drift, a
    // missing #rows line, or a pattern change) and the entry silently
    // degraded to a full scan that still hashes green.
    val df = Catalog.queries("b17_metadata_agg")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Scan parquet"),
      s"b17 should answer from the sidecar, not scan:\n$plan")
  }

  test("s17_mmr_rerank: the corpus stage is TakeOrdered; the re-rank " +
      "plan is local-relation only") {
    // The returned frame is the greedy re-rank over the collected
    // 20-row shortlist: its plan must contain NO parquet scan and NO
    // shuffle — if either appears, the corpus leaked past the bounded
    // shortlist read and the re-rank stopped being O(k * shortlist).
    val df = Catalog.queries("s17_mmr_rerank")(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
      s"re-rank plan re-reads the corpus:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"re-rank of 20 rows must not shuffle:\n$plan")
  }

  test("pr1/pr2 local fast path matches the distributed rounds exactly") {
    // The gate scales all take the single-task fixed-point branch, so
    // this pin is what keeps the two branches answer-identical: every
    // step is BIGINT arithmetic, so the full row sets must be EQUAL,
    // not merely close. A zero byte cap forces the distributed rounds
    // (a non-empty graph has bytes > 0).
    val key = "spark.graft.graph.localMaxBytes"
    val graphBytes = Seq(graft.core.Tables.orders(spark, Sf0001),
      graft.core.Tables.lineitem(spark, Sf0001))
      .map(graft.storage.OptimizedWrite.leafBytes).sum
    assert(graphBytes > 0, "a zero cap forces the rounds only on a " +
      "graph whose source scans report bytes")
    def rows(name: String) = Catalog.queries(name)(spark, Sf0001)
      .collect().map(_.toSeq).toSet
    for (name <- Seq("pr1_pagerank", "pr2_personalized_pagerank")) {
      val fast = rows(name)
      spark.conf.set(key, "0")
      val loop = try rows(name) finally spark.conf.unset(key)
      assert(fast === loop, s"$name: fast path diverged from the rounds")
      assert(fast.nonEmpty)
    }
  }
}
