package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Iterative graph analytics over the relational tables: PageRank on the
  * customer↔supplier co-purchase graph (edges from orders⋈lineitem, one
  * undirected edge per distinct trading pair, represented as two
  * directed edges so no node dangles).
  *
  * Determinism: ranks are fixed-point BIGINTs scaled by 1e12 and every
  * step is integer arithmetic — `pr div outdeg` contributions, exact
  * BIGINT sums, `(85 * inflow) div 100` damping — so Spark and DuckDB
  * agree bit-for-bit (both truncate integer division toward zero for the
  * all-positive values here). No doubles anywhere: float summation order
  * can never perturb the hash.
  *
  * Scale: the Pregel shape — contributions shuffle on dst, the rank
  * frame joins edges on src; both sides hash-partition on the node id so
  * one partitioning is reused across rounds, and rounds are a fixed
  * small constant (3). The edge list, degree-annotated edges and node
  * set are lazily localCheckpoint-ed: they appear once per round in the
  * unrolled plan, and without the lineage cut Catalyst re-derives the
  * orders⋈lineitem distinct (the expensive part) up to 8× — exchange
  * reuse does not fire across the differently-aliased round subtrees.
  * The checkpoint is lazy (materializes inside the measured action, no
  * cross-run cache) and fresh per invocation. At 100 TB with many
  * rounds you'd also checkpoint the rank frame per round exactly as
  * dedup/Dedup.scala's connected components does; at a fixed 3 rounds
  * the rank lineage stays linear and needs no cut.
  *
  * Two deliberate trades of this pattern, both MEASURED in round 9:
  *  - CLEANUP IS GC-DRIVEN: the returned frame references the three
  *    checkpointed RDDs, so they cannot be unpersisted inside this
  *    builder; the ContextCleaner reclaims them once the caller drops
  *    the result — and Bench's per-entry tenancy probe shows it DOES
  *    (persisted-block residue before subsequent entries is ~0 MB in
  *    the full shared sweep). An r9 attempt to make cleanup eager —
  *    `.persist()` intermediates + eagerly checkpointing the final
  *    frame + blocking unpersists — cost pr1 2.7 s → 5.9 s isolated
  *    (InMemoryRelation's columnar encode/decode on every round's
  *    reuse vs localCheckpoint's raw partition blocks) and was
  *    reverted: raw-block checkpoints with GC cleanup are BOTH faster
  *    and residue-free here.
  *  - localCheckpoint uses NON-RELIABLE executor-local storage: a lost
  *    executor makes the truncated lineage unrecoverable, and dynamic
  *    allocation can trigger exactly that — at cluster scale prefer
  *    reliable `checkpoint()` (to the cluster FS) or pin executors, the
  *    caveat Spark's own localCheckpoint scaladoc carries. local[n]
  *    (this harness) has no executor loss, so the cheap variant is
  *    correct here.
  */
object GraphQueries {

  import QuerySpec._

  private val Scale = 1000000000000L // rank fixed-point: 1.0 == 1e12
  private val Teleport = Scale * 15 / 100 // (1-d) * Scale, d = 0.85
  private val SupplierBase = 1000000L // node-id offset for suppliers
  private val Rounds = 3

  /** The co-purchase graph every pr-entry iterates on: distinct
    * customer↔supplier trading pairs as two directed edges, with the
    * degree annotation and lineage cuts pr1's scaladoc motivates. Fresh
    * frames (and fresh lazy checkpoints) per invocation — shared
    * STRUCTURE between pr1/pr2, never shared runtime state.
    */
  private def coPurchaseGraph(s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val pairs = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"),
        (col("l_suppkey") + SupplierBase).as("sp"))
      .distinct()
    val edges = pairs.select(col("c").as("src"), col("sp").as("dst"))
      .unionAll(pairs.select(col("sp").as("src"), col("c").as("dst")))
      .localCheckpoint(false) // lazy: cut lineage, compute pairs once
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nodes = deg.select(col("src").as("node"))
      .localCheckpoint(false) // reused by every round's left join + p0
    val nn = nodes.agg(count(lit(1)).as("n")) // 1-row broadcast scalar
    val edgesDeg = edges.join(deg, "src") // (src, dst, outdeg)
      .localCheckpoint(false) // reused by every round's contribution join
    (nodes, nn, edgesDeg)
  }

  /** Small-graph fast path for the pr1/pr2 rounds (r17): when the
    * SOURCE scans cannot fill the cluster (the Parallelism.widen
    * condition — the same splits-vs-parallelism test, decided from leaf
    * bytes without executing anything), the ~Rounds x 3-join Pregel
    * unrolling is pure scheduler latency: the distinct pair set is
    * still computed DISTRIBUTED (data-proportional), then one executor
    * task runs the fixed-point iteration over arrays. Bit-identical by
    * construction — every step is BIGINT arithmetic (div-then-exact-sum
    * per edge, damping in integer ops), so iteration order cannot
    * perturb a single bit, which is the same property that lets the
    * DuckDB oracle hash-match the distributed form. `seedK = None` is
    * pr1 (uniform teleport over n); `Some(pred)` is pr2 (teleport over
    * the seed set only). Production scale takes the distributed branch
    * untouched.
    */
  private def localRanks(pairs: DataFrame,
      seeded: Boolean): org.apache.spark.rdd.RDD[(Long, Boolean, Long)] =
    pairs.select(col("c"), col("sp")).rdd
      .map(r => (r.getLong(0), r.getLong(1)))
      .coalesce(1).mapPartitions { it =>
        // Primitive (unboxed) structures throughout: the single task
        // holds the whole distinct pair set, so the ~6-10x boxing
        // overhead of Long-keyed java.util.HashMaps is the difference
        // between a comfortable task and an OOM near the byte cap.
        var src = new Array[Long](1 << 12)
        var dst = new Array[Long](1 << 12)
        var n = 0
        it.foreach { case (c, sp) =>
          if (n + 2 > src.length) {
            src = java.util.Arrays.copyOf(src, src.length << 1)
            dst = java.util.Arrays.copyOf(dst, dst.length << 1)
          }
          src(n) = c; dst(n) = sp; n += 1 // edge c -> sp
          src(n) = sp; dst(n) = c; n += 1 // edge sp -> c
        }
        // Node ids are non-negative (custkey >= 0, suppkey +
        // SupplierBase); LongIndex stores them shifted by +1 so 0 can
        // mark an empty slot.
        val nodeIdx = new LongIndex(n)
        var i = 0
        while (i < n) { nodeIdx.indexOf(src(i), insert = true); i += 1 }
        val nNodes = nodeIdx.size
        val nodes = nodeIdx.keys // index -> node id
        // Re-encode edges as dense node indices once; every round then
        // runs on flat arrays with no hashing at all.
        val srcIx = new Array[Int](n)
        val dstIx = new Array[Int](n)
        i = 0
        while (i < n) {
          srcIx(i) = nodeIdx.indexOf(src(i), insert = false)
          dstIx(i) = nodeIdx.indexOf(dst(i), insert = true)
          i += 1
        }
        val deg = new Array[Long](nNodes)
        i = 0
        while (i < n) { deg(srcIx(i)) += 1L; i += 1 }
        def isSeed(v: Long) = v < SupplierBase && v % 10 == 1
        var seeds = 0L
        i = 0
        while (i < nNodes) { if (isSeed(nodes(i))) seeds += 1; i += 1 }
        val denom = if (seeded) seeds else nNodes.toLong
        val pr = new Array[Long](nNodes)
        i = 0
        while (i < nNodes) {
          pr(i) =
            if (!seeded) Scale / denom
            else if (isSeed(nodes(i))) Scale / denom else 0L
          i += 1
        }
        val inflow = new Array[Long](nNodes)
        for (_ <- 1 to Rounds) {
          java.util.Arrays.fill(inflow, 0L)
          var e = 0
          while (e < n) {
            inflow(dstIx(e)) += pr(srcIx(e)) / deg(srcIx(e))
            e += 1
          }
          i = 0
          while (i < nNodes) {
            val tele =
              if (!seeded) Teleport / denom
              else if (isSeed(nodes(i))) Teleport / denom else 0L
            pr(i) = tele + (85L * inflow(i)) / 100L
            i += 1
          }
        }
        (0 until nNodes).iterator.map(ix =>
          (nodes(ix), isSeed(nodes(ix)), pr(ix)))
      }

  /** Open-addressing long -> dense-index map (linear probing, power-of-2
    * capacity). Keys are stored SHIFTED BY +1 so the empty-slot marker 0
    * never collides with a real key — node ids here are non-negative
    * (custkey >= 0; suppkey + SupplierBase), and a custkey of 0 does
    * occur in the harness data (the r18 one-lost-node oracle miss). */
  private final class LongIndex(expected: Int) {
    private var cap = java.lang.Integer.highestOneBit(
      math.max(16, expected * 2 - 1)) << 1
    private var table = new Array[Long](cap) // key + 1, 0 = empty
    private var index = new Array[Int](cap) // dense index of key
    private var n = 0
    private var ks = new Array[Long](math.max(16, expected))
    def size: Int = n
    def keys: Array[Long] = ks
    def indexOf(k: Long, insert: Boolean): Int = {
      val sk = k + 1
      var slot = (java.lang.Long.hashCode(sk * -7046029254386353131L)
        & (cap - 1))
      while (true) {
        val cur = table(slot)
        if (cur == sk) return index(slot)
        if (cur == 0L) {
          if (!insert) return -1
          table(slot) = sk
          index(slot) = n
          if (n >= ks.length) ks = java.util.Arrays.copyOf(ks, ks.length << 1)
          ks(n) = k
          n += 1
          if (n * 2 > cap) grow()
          return n - 1
        }
        slot = (slot + 1) & (cap - 1)
      }
      -1 // unreachable
    }
    private def grow(): Unit = {
      val oldT = table; val oldI = index
      cap <<= 1
      table = new Array[Long](cap)
      index = new Array[Int](cap)
      var s = 0
      while (s < oldT.length) {
        val sk = oldT(s)
        if (sk != 0L) {
          var slot = (java.lang.Long.hashCode(sk * -7046029254386353131L)
            & (cap - 1))
          while (table(slot) != 0L) slot = (slot + 1) & (cap - 1)
          table(slot) = sk
          index(slot) = oldI(s)
        }
        s += 1
      }
    }
  }

  /** The widen condition on the graph's source scans: true when the
    * Pregel unrolling would run on a cluster the inputs cannot fill. */
  private def graphIsSmall(s: org.apache.spark.sql.SparkSession,
      d: String): Boolean = {
    val bytes = graft.storage.OptimizedWrite.leafBytes(
      Tables.orders(s, d)) +
      graft.storage.OptimizedWrite.leafBytes(Tables.lineitem(s, d))
    val p = math.max(1, s.sparkContext.defaultParallelism)
    val maxPart = math.max(1L, s.sessionState.conf.filesMaxPartitionBytes)
    // Two conditions: the cluster-relative test (the Pregel unrolling is
    // pure scheduler latency only when the scans cannot fill the
    // cluster) AND an ABSOLUTE source-byte cap — without the cap the
    // gate scales with cluster size (32 cores x 128 MiB = 4 GiB of
    // source bytes) and a near-threshold graph on a LARGE cluster would
    // funnel an unbounded distinct pair set through the fast path's one
    // task. 256 MiB of source parquet bounds the task's edge arrays to
    // low hundreds of MB in primitive form — the same role
    // Dedup.duplicateClusters' 2M-edge localThreshold plays, expressed
    // in the bytes this gate can read without executing anything.
    // Override for tests/deployments: spark.graft.graph.localMaxBytes
    // (0 forces the distributed rounds).
    val absCap = s.conf.getOption("spark.graft.graph.localMaxBytes")
      .map(_.toLong).getOrElse(256L << 20)
    bytes / maxPart < p && bytes <= absCap
  }

  private def pairsFrame(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"),
        (col("l_suppkey") + SupplierBase).as("sp"))
      .distinct()

  val pr1PageRank = withOracle(
    "pr1_pagerank",
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey + $SupplierBase AS sp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT c AS src, sp AS dst FROM pairs
       |          UNION ALL SELECT sp, c FROM pairs),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
       |        FROM edges GROUP BY 1),
       |nodes AS (SELECT src AS node FROM deg),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |p0 AS (SELECT node, $Scale // n AS pr FROM nodes, nn),
       |i1 AS (SELECT e.dst, CAST(sum(p.pr // d.outdeg) AS BIGINT) AS inflow
       |       FROM edges e JOIN deg d ON e.src = d.src
       |            JOIN p0 p ON p.node = e.src
       |       GROUP BY 1),
       |p1 AS (SELECT node, $Teleport // n
       |              + (85 * coalesce(i.inflow, 0)) // 100 AS pr
       |       FROM nodes CROSS JOIN nn LEFT JOIN i1 i ON i.dst = node),
       |i2 AS (SELECT e.dst, CAST(sum(p.pr // d.outdeg) AS BIGINT) AS inflow
       |       FROM edges e JOIN deg d ON e.src = d.src
       |            JOIN p1 p ON p.node = e.src
       |       GROUP BY 1),
       |p2 AS (SELECT node, $Teleport // n
       |              + (85 * coalesce(i.inflow, 0)) // 100 AS pr
       |       FROM nodes CROSS JOIN nn LEFT JOIN i2 i ON i.dst = node),
       |i3 AS (SELECT e.dst, CAST(sum(p.pr // d.outdeg) AS BIGINT) AS inflow
       |       FROM edges e JOIN deg d ON e.src = d.src
       |            JOIN p2 p ON p.node = e.src
       |       GROUP BY 1),
       |p3 AS (SELECT node, $Teleport // n
       |              + (85 * coalesce(i.inflow, 0)) // 100 AS pr
       |       FROM nodes CROSS JOIN nn LEFT JOIN i3 i ON i.dst = node)
       |SELECT node, CAST(pr AS BIGINT) AS pr_scaled FROM p3""".stripMargin) {
    (s, d) =>
      if (graphIsSmall(s, d)) {
        val rows = localRanks(pairsFrame(s, d), seeded = false)
          .map { case (n, _, p) => org.apache.spark.sql.Row(n, p) }
        s.createDataFrame(rows,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("node",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("pr_scaled",
              org.apache.spark.sql.types.LongType, nullable = false))))
      } else {
      val (nodes, nn, edgesDeg) = coPurchaseGraph(s, d)
      var pr: DataFrame = nodes.crossJoin(nn)
        .select(col("node"), expr(s"$Scale div n").as("pr"))
      for (_ <- 1 to Rounds) {
        val inflow = edgesDeg
          .join(pr.select(col("node").as("p_node"), col("pr")),
            col("src") === col("p_node"))
          .select(col("dst"), expr("pr div outdeg").as("contrib"))
          .groupBy("dst").agg(sum(col("contrib")).as("inflow"))
        pr = nodes
          .join(inflow, col("node") === col("dst"), "left")
          .crossJoin(nn)
          .select(col("node"),
            (expr(s"$Teleport div n")
              + expr("(85 * coalesce(inflow, 0L)) div 100")).as("pr"))
      }
      pr.select(col("node"), col("pr").as("pr_scaled"))
      }
  }

  // ---- pr2: personalized PageRank ----
  /** PPR — the "related to THESE customers" variant: teleport mass
    * concentrates on a seed set (customers with custkey % 10 = 1)
    * instead of spreading uniformly, so rank measures proximity to the
    * seeds. Same fixed-point BIGINT arithmetic, same Pregel shape and
    * lineage-cut discipline as pr1 (shared [[coPurchaseGraph]]); the
    * only algebraic deltas are the seed-indicator start vector
    * (Scale/|S| on seeds, 0 elsewhere) and the teleport term
    * (Teleport/|S| on seeds, 0 elsewhere). Non-seed nodes earn rank
    * ONLY through inflow — the output separates the two populations
    * via is_seed so the oracle checks both. At 100 TB the seed set is
    * the broadcast side of the start-vector join; everything else
    * scales exactly as pr1's scaladoc argues.
    */
  val pr2PersonalizedPageRank = withOracle(
    "pr2_personalized_pagerank",
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey + $SupplierBase AS sp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT c AS src, sp AS dst FROM pairs
       |          UNION ALL SELECT sp, c FROM pairs),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
       |        FROM edges GROUP BY 1),
       |nodes AS (SELECT src AS node,
       |                 src < $SupplierBase AND src % 10 = 1 AS is_seed
       |          FROM deg),
       |ns AS (SELECT CAST(count(*) AS BIGINT) AS k FROM nodes
       |       WHERE is_seed),
       |p0 AS (SELECT node, is_seed,
       |              CASE WHEN is_seed THEN $Scale // k ELSE 0 END AS pr
       |       FROM nodes, ns),
       |i1 AS (SELECT e.dst, CAST(sum(p.pr // d.outdeg) AS BIGINT) AS inflow
       |       FROM edges e JOIN deg d ON e.src = d.src
       |            JOIN p0 p ON p.node = e.src
       |       GROUP BY 1),
       |p1 AS (SELECT node, is_seed,
       |              CASE WHEN is_seed THEN $Teleport // k ELSE 0 END
       |              + (85 * coalesce(i.inflow, 0)) // 100 AS pr
       |       FROM nodes CROSS JOIN ns LEFT JOIN i1 i ON i.dst = node),
       |i2 AS (SELECT e.dst, CAST(sum(p.pr // d.outdeg) AS BIGINT) AS inflow
       |       FROM edges e JOIN deg d ON e.src = d.src
       |            JOIN p1 p ON p.node = e.src
       |       GROUP BY 1),
       |p2 AS (SELECT node, is_seed,
       |              CASE WHEN is_seed THEN $Teleport // k ELSE 0 END
       |              + (85 * coalesce(i.inflow, 0)) // 100 AS pr
       |       FROM nodes CROSS JOIN ns LEFT JOIN i2 i ON i.dst = node),
       |i3 AS (SELECT e.dst, CAST(sum(p.pr // d.outdeg) AS BIGINT) AS inflow
       |       FROM edges e JOIN deg d ON e.src = d.src
       |            JOIN p2 p ON p.node = e.src
       |       GROUP BY 1),
       |p3 AS (SELECT node, is_seed,
       |              CASE WHEN is_seed THEN $Teleport // k ELSE 0 END
       |              + (85 * coalesce(i.inflow, 0)) // 100 AS pr
       |       FROM nodes CROSS JOIN ns LEFT JOIN i3 i ON i.dst = node)
       |SELECT node, is_seed, CAST(pr AS BIGINT) AS ppr_scaled
       |FROM p3""".stripMargin) { (s, d) =>
    if (graphIsSmall(s, d)) {
      val rows = localRanks(pairsFrame(s, d), seeded = true)
        .map { case (n, sd, p) => org.apache.spark.sql.Row(n, sd, p) }
      s.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("is_seed",
            org.apache.spark.sql.types.BooleanType, nullable = false),
          org.apache.spark.sql.types.StructField("ppr_scaled",
            org.apache.spark.sql.types.LongType, nullable = false))))
    } else {
    val (nodes0, _, edgesDeg) = coPurchaseGraph(s, d)
    val nodes = nodes0.select(col("node"),
      (col("node") < SupplierBase && col("node") % 10 === 1).as("is_seed"))
    val ns = nodes.filter(col("is_seed")).agg(count(lit(1)).as("k"))
    var pr: DataFrame = nodes.crossJoin(ns)
      .select(col("node"), col("is_seed"),
        when(col("is_seed"), expr(s"$Scale div k")).otherwise(lit(0L))
          .as("pr"))
    for (_ <- 1 to Rounds) {
      val inflow = edgesDeg
        .join(pr.select(col("node").as("p_node"), col("pr")),
          col("src") === col("p_node"))
        .select(col("dst"), expr("pr div outdeg").as("contrib"))
        .groupBy("dst").agg(sum(col("contrib")).as("inflow"))
      pr = nodes
        .join(inflow, col("node") === col("dst"), "left")
        .crossJoin(ns)
        .select(col("node"), col("is_seed"),
          (when(col("is_seed"), expr(s"$Teleport div k")).otherwise(lit(0L))
            + expr("(85 * coalesce(inflow, 0L)) div 100")).as("pr"))
    }
    pr.select(col("node"), col("is_seed"), col("pr").as("ppr_scaled"))
    }
  }

  // ---- pr3: triangle counting (degree-oriented) ----
  /** Triangle counting over the part co-occurrence graph — parts that
    * ship together in the same order during 1995 (the co-purchase graph
    * pr1 walks is customer↔supplier BIPARTITE, which has no triangles
    * by construction; the part–part projection is where closure lives).
    * Output is per-node: degree and the number of triangles the part
    * participates in (0 kept, via left join — non-empty at every SF).
    *
    * Algorithm: degree orientation (Chiba–Nishizeki / Schank's
    * forward algorithm, the shape every distributed triangle counter
    * uses — e.g. Cohen's MapReduce formulation): orient each undirected
    * edge from the (degree, id)-smaller endpoint to the larger, build
    * wedges only from each node's ORIENTED out-neighborhood, and close
    * a wedge (u→v, u→w) against the oriented edge v→w. Each triangle
    * is counted exactly once, and — the scale property — a node's
    * oriented out-degree is O(√m), so wedge count is O(m^1.5) worst
    * case and ~m·avg-degree in practice, never the unoriented hub
    * blow-up (a hub of degree D contributes C(D,2) unoriented wedges
    * but only wedges among its HIGHER-degree neighbors here).
    *
    * The wedge dedup key must be the SAME (degree, id) key as the edge
    * orientation: ordering out-neighbor pairs by raw id would silently
    * drop every triangle whose closing edge is oriented against id
    * order (measured: 245 of 523 triangles at sf0.01 survive the buggy
    * variant — this exact trap is why the oracle and the brute-force
    * 3-way join were cross-checked before this entry landed).
    *
    * Scale: the 1995 ship-date filter keeps per-order fan-in bounded
    * (TPC-H orders have ≤7 lines; a year's filter cuts pair expansion
    * superlinearly since line dates within an order differ), and the
    * graph grows with ~CONSTANT average degree as SF grows (nodes and
    * edges both scale linearly), so wedges scale linearly with data —
    * measured 1,435 wedges at sf0.01. All joins are key-equi-joins
    * (orderkey for pairs, node for degrees, s for wedges, (v,w)
    * composite for closure); `ori`/`deg`/`pairs` are lazily
    * localCheckpoint-ed since the unrolled plan uses each 2-3 times
    * (the pr1 lineage-cut discipline, same caveats).
    */
  val pr3TriangleCount = withOracle(
    "pr3_triangle_count",
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'),
      |pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT u AS node FROM pairs
      |              UNION ALL SELECT v FROM pairs) GROUP BY 1),
      |ori AS (
      |  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
      |         CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t,
      |         CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS td
      |  FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
      |wedge AS (SELECT a.s AS u, a.t AS v, b.t AS w
      |          FROM ori a JOIN ori b
      |          ON a.s = b.s AND (a.td, a.t) < (b.td, b.t)),
      |tri AS (SELECT u, v, w FROM wedge
      |        JOIN ori e ON e.s = wedge.v AND e.t = wedge.w),
      |pern AS (SELECT node, CAST(count(*) AS BIGINT) AS tri_cnt
      |         FROM (SELECT u AS node FROM tri
      |               UNION ALL SELECT v FROM tri
      |               UNION ALL SELECT w FROM tri) GROUP BY 1)
      |SELECT d.node AS part, d.d AS degree,
      |       coalesce(p.tri_cnt, CAST(0 AS BIGINT)) AS tri_cnt
      |FROM deg d LEFT JOIN pern p ON p.node = d.node""".stripMargin) {
    (s, d) =>
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate").between("1995-01-01", "1995-12-31"))
        .select(col("l_orderkey").as("ok"), col("l_partkey"))
      val pairs = li.select(col("ok"), col("l_partkey").as("u"))
        .join(li.select(col("ok").as("ok2"), col("l_partkey").as("v")),
          col("ok") === col("ok2") && col("u") < col("v"))
        .select(col("u"), col("v")).distinct()
        .localCheckpoint(false) // feeds deg AND ori: compute the self-join once
      val deg = pairs.select(col("u").as("node"))
        .unionAll(pairs.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
        .localCheckpoint(false) // feeds ori (twice) AND the final frame
      val uKey = struct(col("ud"), col("u"))
      val vKey = struct(col("vd"), col("v"))
      val ori = pairs
        .join(deg.select(col("node").as("un"), col("d").as("ud")),
          col("u") === col("un"))
        .join(deg.select(col("node").as("vn"), col("d").as("vd")),
          col("v") === col("vn"))
        .select(
          when(uKey < vKey, col("u")).otherwise(col("v")).as("s"),
          when(uKey < vKey, col("v")).otherwise(col("u")).as("t"),
          when(uKey < vKey, col("vd")).otherwise(col("ud")).as("td"))
        .localCheckpoint(false) // both wedge sides + the closing edge join
      val wedge = ori.select(col("s"), col("t").as("v"), col("td").as("vd2"))
        .join(ori.select(col("s").as("s2"), col("t").as("w"),
            col("td").as("wd2")),
          col("s") === col("s2") &&
            struct(col("vd2"), col("v")) < struct(col("wd2"), col("w")))
        .select(col("s").as("u"), col("v"), col("w"))
      val tri = wedge.join(
          ori.select(col("s").as("es"), col("t").as("et")),
          col("v") === col("es") && col("w") === col("et"))
        .select(col("u"), col("v"), col("w"))
        .localCheckpoint(false) // pern's 3-way union reads it 3x —
        // without the cut each branch re-runs the wedge+closure joins
        // (exchange reuse keeps the builds, but the probe re-executes)
      val pern = tri.select(col("u").as("node"))
        .unionAll(tri.select(col("v").as("node")))
        .unionAll(tri.select(col("w").as("node")))
        .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
      deg.select(col("node").as("part"), col("d").as("degree"))
        .join(pern, col("part") === col("node"), "left")
        .select(col("part"), col("degree"),
          coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
  }

  // ---- g14: market-basket association rules ----
  /** Support/confidence/lift over order baskets — the classic
    * association-rule mine (Agrawal & Srikant's Apriori at the 2-item
    * level, which is where basket analytics on a lakehouse actually
    * runs): parts co-purchased in one order form a pair candidate,
    * a SUPPORT FLOOR (>= 2 orders) prunes the long tail before any
    * join — the Apriori property doing the scale work — and surviving
    * rules pick up item supports and the basket total to score
    * confidence = P(v|u) and lift = P(u,v)/(P(u)P(v)).
    *
    * Determinism: every count is exact BIGINT; confidence and lift
    * are each ONE IEEE division of exact integer products
    * (`pair*n / (cnt_u*cnt_v)`), bit-identical across engines — no
    * float accumulation anywhere.
    *
    * Scale: per-order pair expansion is bounded by the basket size
    * (TPC-H orders have <= 7 lines, so <= 21 pairs/order — linear in
    * lineitem); one (u, v) shuffle aggregates pair counts, the floor
    * shrinks the rule table to the interesting head, and the two item-
    * support joins key on single part ids (broadcastable when the part
    * dim is small, plain hash joins when it is not). The basket count
    * is a 1-row broadcast scalar (the pr1/e6 pattern).
    */
  val g14BasketRules = withOracle(
    "g14_basket_rules",
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
      |item AS (SELECT p, CAST(count(*) AS BIGINT) AS cnt FROM li GROUP BY 1),
      |pairs AS (
      |  SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS pair_cnt
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT u, v, pair_cnt, iu.cnt AS cnt_u, iv.cnt AS cnt_v,
      |       CAST(pair_cnt AS DOUBLE) / CAST(iu.cnt AS DOUBLE)
      |         AS confidence,
      |       CAST(pair_cnt * n_orders AS DOUBLE)
      |         / CAST(iu.cnt * iv.cnt AS DOUBLE) AS lift
      |FROM pairs JOIN item iu ON iu.p = u JOIN item iv ON iv.p = v
      |CROSS JOIN n""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
      .localCheckpoint(false) // pairs + item supports + basket count
    val n = li.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val item = li.groupBy(col("p")).agg(count(lit(1)).as("cnt"))
    val pairs = li.select(col("ok"), col("p").as("u"))
      .join(li.select(col("ok").as("ok2"), col("p").as("v")),
        col("ok") === col("ok2") && col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= 2)
    pairs
      .join(item.select(col("p").as("pu"), col("cnt").as("cnt_u")),
        col("u") === col("pu"))
      .join(item.select(col("p").as("pv"), col("cnt").as("cnt_v")),
        col("v") === col("pv"))
      .crossJoin(broadcast(n))
      .select(col("u"), col("v"), col("pair_cnt"), col("cnt_u"),
        col("cnt_v"),
        (col("pair_cnt").cast("double") / col("cnt_u").cast("double"))
          .as("confidence"),
        ((col("pair_cnt") * col("n_orders")).cast("double")
          / (col("cnt_u") * col("cnt_v")).cast("double")).as("lift"))
  }

  val specs: Seq[QuerySpec] =
    Seq(pr1PageRank, pr2PersonalizedPageRank, pr3TriangleCount,
      g14BasketRules)
}
