package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge.
  *
  * Spark 4 moved `Column` onto the connect-compatible ColumnNode API and
  * made the catalyst-Expression constructor `private[sql]`; libraries
  * that ship custom expressions (as we do for the hot-loop kernels in
  * `graft.functions.expressions`) reach it from inside the sql package
  * namespace — the same approach used by open-source Spark extensions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The frame of a logical plan — `Dataset.ofRows`, private[sql]. A
    * command in the plan executes here, eagerly, as in `spark.sql`. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The batch frame re-rooted as a STREAMING plan — what a v1
    * streaming Source's getBatch must return (MicroBatchExecution
    * asserts `isStreaming` on it). FileStreamSource does exactly this
    * re-rooting internally (`LogicalRelation(..., isStreaming = true)`);
    * the constructor surface is private[sql], hence this bridge.
    */
  def asStreaming(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plan = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation => lr.copy(isStreaming = true)
    }
    org.apache.spark.sql.classic.Dataset.ofRows(spark, plan)
  }

  /** The micro-batch frame a v1 Sink receives, re-rooted on its
    * ALREADY-COMPUTED RDD so downstream batch writes do not re-execute
    * the incremental plan (ForeachBatchSink does exactly this re-root —
    * a stateful micro-batch plan must not run twice). */
  def rebatch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val node = LogicalRDD.fromDataset(df.queryExecution.toRdd,
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
        org.apache.spark.sql.Row]],
      isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(spark, node)
  }

  /** A batch frame re-rooted on its computed RDD as a STREAMING plan —
    * what a v1 Source's getBatch must return when the batch derives
    * from a COMPLEX plan (joins/unions over several relations, e.g. a
    * change-feed batch): transforming every LogicalRelation to
    * isStreaming (asStreaming) would turn an internal join into a
    * stream-stream join, so the plan executes as a batch here and only
    * the RESULT carries the streaming flag. The execution is eager per
    * micro-batch — acceptable for bounded change feeds; WAL replay
    * re-executes the same derivation. */
  def rebatchStreaming(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val node = LogicalRDD.fromDataset(df.queryExecution.toRdd,
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
        org.apache.spark.sql.Row]],
      isStreaming = true)
    org.apache.spark.sql.classic.Dataset.ofRows(spark, node)
  }

  /** Force-nullable view of a schema (Spark's private[spark]
    * StructType.asNullable) — parity with file-based schema inference,
    * which nullables every field. */
  def asNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = st.asNullable

  /** An empty STREAMING frame of the given schema (a micro-batch with
    * no new files still needs a well-typed plan). */
  def emptyStreaming(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), Nil,
        isStreaming = true))
  }
}
