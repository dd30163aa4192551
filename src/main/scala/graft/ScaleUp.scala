package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic dataset scale-up: replicate a testdata scale dir K×
  * with CONSISTENT key offsets, so every join key, event stream, and
  * document keeps its per-replica relationships while the global volume
  * grows K-fold. Used to measure the catalog's sf0.1 → sf1.0 scaling
  * exponents (BASELINE.md) in an environment that ships no sf1.0 data.
  *
  * Faithfulness choices:
  *  - every foreign key is offset by the SAME per-table step as its
  *    primary key (orders.o_custkey moves with customer.c_custkey,
  *    lineitem with orders/part/supplier, events.user_id with
  *    customer), so join selectivities are replica-invariant;
  *  - nation/region are fixed dimensions and copy through unchanged —
  *    exactly how real growth behaves (10× the orders, same 25 nations);
  *  - document TEXT gets a per-replica token rename (`<tok>` →
  *    `<tok>zr<k>`, a 1:1 suffix map; replica 0 keeps the source text
  *    verbatim): within-replica shingle sets and similarity structure
  *    are preserved EXACTLY, while cross-replica token sets are
  *    disjoint — without this every doc would gain K-1 exact clones
  *    and pair-producing dedup operators would blow up O(K^2), which is
  *    a different (and unrealistic: dedup output, not input, would
  *    dominate) workload than "10× more documents". Disjointness
  *    assumes no SOURCE token already ends in `zr<k>` (replica k's
  *    rename of its prefix would then collide with it) — benign on the
  *    generated corpus, whose vocabulary carries no such suffixes;
  *  - embeddings replicate value-identical under offset ids (10× corpus
  *    probed by the same query/centroid rows — ANN bucket occupancy
  *    grows linearly, the scale behavior under test);
  *  - event timestamps keep their range (10× density per hour — growth
  *    within the same business window).
  *
  * Output mirrors the testdata layout (single `<table>.parquet` FILE per
  * table — still row-group-splittable for parallel scans).
  */
object ScaleUp {

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0) + 1L

  /** The `documents` replica transform, factored so the DedupSpec
    * second-decade linearity test replays EXACTLY the corpus shape the
    * sf1.0 measurements used: doc_id bumped by `r * step` per replica,
    * and every replica but the first token-renamed (`tok` → `tokzr<r>`)
    * so cross-replica token/shingle sets are disjoint — "10× more
    * documents", not "every document gains 9 exact clones" (see the
    * faithfulness notes above).
    */
  def replicateDocuments(documents: DataFrame, factor: Int,
      step: Long): DataFrame =
    (0 until factor).map { r =>
      val bumped = documents.withColumn("doc_id", col("doc_id") + lit(r * step))
      if (r == 0) bumped
      else bumped
        .withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"$$1zr$r"))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val Array(srcDir, destDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = graft.core.Session.local()
    spark.sparkContext.setLogLevel("WARN")

    val customer = core.Tables.customer(spark, srcDir)
    val supplier = core.Tables.supplier(spark, srcDir)
    val part = core.Tables.part(spark, srcDir)
    val orders = core.Tables.orders(spark, srcDir)
    val lineitem = core.Tables.lineitem(spark, srcDir)
    val events = core.Tables.events(spark, srcDir)
    val documents = core.Tables.documents(spark, srcDir)
    val embeddings = core.Tables.embeddings(spark, srcDir)

    val stepC = maxOf(customer, "c_custkey")
    val stepS = maxOf(supplier, "s_suppkey")
    val stepP = maxOf(part, "p_partkey")
    val stepO = maxOf(orders, "o_orderkey")
    val stepE = maxOf(events, "event_id")
    val stepD = maxOf(documents, "doc_id")
    val stepV = maxOf(embeddings, "vec_id")

    /** Union `factor` replicas of `df`, transformed per replica index. */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => f(df, r)).reduce(_ unionByName _)

    def bump(df: DataFrame, r: Int, steps: (String, Long)*): DataFrame =
      steps.foldLeft(df) { case (acc, (c, step)) =>
        acc.withColumn(c, col(c) + lit(r * step)) }

    val out: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.read.parquet(s"$srcDir/region.parquet"),
      "nation" -> spark.read.parquet(s"$srcDir/nation.parquet"),
      "customer" -> replicate(customer)((d, r) => bump(d, r, "c_custkey" -> stepC)),
      "supplier" -> replicate(supplier)((d, r) => bump(d, r, "s_suppkey" -> stepS)),
      "part" -> replicate(part)((d, r) => bump(d, r, "p_partkey" -> stepP)),
      "orders" -> replicate(orders)((d, r) =>
        bump(d, r, "o_orderkey" -> stepO, "o_custkey" -> stepC)),
      "lineitem" -> replicate(lineitem)((d, r) =>
        bump(d, r, "l_orderkey" -> stepO, "l_partkey" -> stepP,
          "l_suppkey" -> stepS)),
      "events" -> replicate(events)((d, r) =>
        bump(d, r, "event_id" -> stepE, "user_id" -> stepC)),
      "documents" -> replicateDocuments(documents, factor, stepD),
      "embeddings" -> replicate(embeddings)((d, r) =>
        bump(d, r, "vec_id" -> stepV)))

    val hconf = spark.sparkContext.hadoopConfiguration
    val destPath = new org.apache.hadoop.fs.Path(destDir)
    val fs = destPath.getFileSystem(hconf)
    fs.mkdirs(destPath)
    out.foreach { case (name, df) =>
      val tmp = new org.apache.hadoop.fs.Path(destPath, s"_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val partFile = fs.listStatus(tmp)
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val dest = new org.apache.hadoop.fs.Path(destPath, s"$name.parquet")
      if (fs.exists(dest)) fs.delete(dest, false)
      require(fs.rename(partFile, dest), s"could not place $name.parquet")
      fs.delete(tmp, true)
      System.err.println(s"[scaleup] $name done")
    }
    spark.stop()
  }
}
