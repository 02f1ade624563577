package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ⇄ Expression converters —
  * the supported pattern for libraries that ship custom Catalyst
  * expressions without forking Spark (the converters live in
  * `org.apache.spark.sql.classic.ExpressionUtils`, package-private
  * since Spark 4's unified Column API). */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an already-planned BATCH frame as a STREAMING frame over
    * the same physical plan (`toRdd` is lazy — execution happens when
    * the engine runs the batch): what a V1 streaming `Source`'s
    * `getBatch` must return, since `MicroBatchExecution` asserts
    * `isStreaming` on it. The constructor is `private[sql]`, hence
    * this bridge. */
  def streamingFrameOf(df: DataFrame): DataFrame =
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
        isStreaming = true)

  /** The inverse of [[streamingFrameOf]]: rewrap the frame a V1
    * streaming `Sink.addBatch` receives — wired to the incremental
    * execution, `isStreaming = true` — as a plain BATCH frame over
    * the SAME physical plan, so batch-side verbs (writes, isEmpty)
    * can run it without tripping the start()-required analysis
    * check. Each action re-executes the micro-batch's RDD lineage;
    * streaming sources serve a batch's data stably, so this is the
    * same re-execution contract `foreachBatch` has. */
  def batchFrameOf(df: DataFrame): DataFrame =
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
        isStreaming = false)

  /** Materialize a DataFrame over an already-parsed logical plan —
    * what a parser-extension command needs to run the `AS <query>`
    * tail of a GRAFT write statement (`Dataset.ofRows` is
    * `private[sql]`). */
  def frameOf(spark: SparkSession,
              plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `schema` with every field, element and value nullable — what a
    * file-source read reports for any data schema (`asNullable` is
    * `private[spark]`). */
  def nullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Register a custom expression as a SQL function in the session's
    * function registry (the `sessionState` accessor is package
    * private; `SparkSessionExtensions.injectFunction` is the
    * builder-time equivalent for new sessions). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}
