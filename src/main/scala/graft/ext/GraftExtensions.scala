package graft.ext

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{DotProduct, MinHashBandKeys, MinShingleHash, RollingHash, ShingleSet, SimHashCode}

/** SQL surface for the native kernels, so `spark.sql` users get them too:
  *
  *   SELECT graft_dot(a.embedding, b.embedding) FROM ...
  *   SELECT graft_shingle_set(text, 3) FROM documents
  *
  * Two registration paths:
  *  - `spark.sql.extensions=graft.ext.GraftExtensions` at session build
  *    (the standard extension hook — works cluster-wide via conf);
  *  - [[GraftExtensions.register]] on a live session (for notebooks /
  *    tests where the session already exists).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    // Default-path manifest stats skipping: any Filter over a parquet
    // scan whose directory carries a `_stats` sidecar plans only the
    // surviving files (see graft.storage.StatsSkippingRule). Live
    // sessions can instead call StatsSkipping.installRule.
    ext.injectOptimizerRule(_ => graft.storage.StatsSkippingRule)
    // Metadata-only aggregates: global min/max/count(*) over a
    // stats-bearing table answers from the sidecar with no scan (see
    // graft.storage.MetadataAggRule for the exactness bail-outs).
    ext.injectOptimizerRule(_ => graft.storage.MetadataAggRule)
    // The versioned-table SQL surface (see GraftSqlParser): Delta-only
    // maintenance statements, and Spark's parsed DML mapped onto the
    // engine's executors.
    ext.injectParser((session, delegate) =>
      new GraftSqlParser(delegate, session))
  }
}

object GraftExtensions {

  private def literalN(name: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name: n must be an integer literal, got $other")
  }

  private def shingleBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2, "graft_shingle_set(text, n)")
    ShingleSet(exprs.head, literalN("graft_shingle_set", exprs(1)))
  }

  private def minShingleHashBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2, "graft_min_shingle_hash(text, n)")
    MinShingleHash(exprs.head, literalN("graft_min_shingle_hash", exprs(1)))
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "graft_dot(a, b)")
        DotProduct(exprs.head, exprs(1))
      }),
    (FunctionIdentifier("graft_shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, "graft_shingle_set"),
      shingleBuilder _),
    (FunctionIdentifier("graft_rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "graft_rolling_hash"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "graft_rolling_hash(text)")
        RollingHash(exprs.head)
      }),
    (FunctionIdentifier("graft_min_shingle_hash"),
      new ExpressionInfo(classOf[MinShingleHash].getName, "graft_min_shingle_hash"),
      minShingleHashBuilder _),
    (FunctionIdentifier("graft_minhash_band_keys"),
      new ExpressionInfo(classOf[MinHashBandKeys].getName,
        "graft_minhash_band_keys"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 4,
          "graft_minhash_band_keys(text, n, numHashes, bands)")
        MinHashBandKeys(exprs.head,
          literalN("graft_minhash_band_keys", exprs(1)),
          literalN("graft_minhash_band_keys", exprs(2)),
          literalN("graft_minhash_band_keys", exprs(3)))
      }),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashCode].getName, "graft_simhash"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 3, "graft_simhash(text, n, minShingles)")
        SimHashCode(exprs.head,
          literalN("graft_simhash", exprs(1)),
          literalN("graft_simhash", exprs(2)))
      }))

  /** Imperative registration on an existing session. */
  def register(spark: SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (ident, info, builder) =>
      registry.registerFunction(ident, info, builder)
    }
  }
}
