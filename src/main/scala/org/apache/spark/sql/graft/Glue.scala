package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils}

/** Bridge between graft's custom Catalyst expressions and the public
  * Column API. Spark 4 scopes the Expression⇄Column converters
  * `private[sql]` (columnNodeSupport.scala); this shim lives under
  * `org.apache.spark.sql` solely to re-export them — the standard idiom
  * for libraries that ship native expressions (no reflection, no
  * bytecode tricks, just the documented classic converter).
  */
object Glue {
  /** Re-export of the `private[sql]` abstract-type lattice so graft
    * expressions can declare `inputTypes` (ExpectsInputTypes) — Spark 4
    * hides AbstractDataType/TypeCollection from library code.
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** An input slot accepting any one of `types` (e.g. array<float> OR
    * array<double>).
    */
  def typeCollection(types: AbstractType*): AbstractType =
    org.apache.spark.sql.types.TypeCollection(types: _*)

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column to its analyzed-input Catalyst expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Execute a logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — used to run the source query of a parsed INSERT
    * statement through the normal analyzer/optimizer.
    */
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Run `f` with `spark` as the thread's active session, as
    * `spark.sql` does around its parse: Spark's parser reads session
    * settings (the time zone of a TIMESTAMP literal) from the active
    * session, which need not be `spark`.
    */
  def withActive[T](spark: org.apache.spark.sql.SparkSession)(f: => T): T =
    spark.withActive(f)

  /** Register a native function into an ALREADY-RUNNING session (the
    * with-extensions path only works at session build time).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** `df.write.mode("overwrite").format(format).options(options)
    * .partitionBy(partitionBy: _*).save(path)` — the V1 file-source
    * command DataFrameWriter runs for parquet, csv and json — returning
    * the rows it wrote: the write command's `numOutputRows` metric, read
    * off its own QueryExecution once it ran. No second pass over `df`,
    * and no listener (an `Observation` installs a session-wide one that
    * logs a stack for every failed query after it).
    */
  def save(df: DataFrame, format: String, path: String,
      partitionBy: Seq[String],
      options: Map[String, String] = Map.empty): Long = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val session = ds.sparkSession
    val opts = options + ("path" -> path) ++ (if (partitionBy.isEmpty) Nil
      else Seq(DataSourceUtils.PARTITIONING_COLUMNS_KEY ->
        DataSourceUtils.encodePartitioningColumns(partitionBy)))
    val cmd = DataSource(session, className = format,
      partitionColumns = partitionBy, options = opts)
      .planForWriting(SaveMode.Overwrite, ds.logicalPlan)
    val qe = new QueryExecution(session, cmd, ds.queryExecution.tracker,
      shuffleCleanupMode =
        QueryExecution.determineShuffleCleanupMode(session.sessionState.conf))
    qe.assertCommandExecuted()
    // AQE wraps the whole write command in its final query stage
    qe.commandExecuted.collectFirst { case r: CommandResult => r.commandPhysicalPlan }
      .flatMap(AqePlans.collectFirst(_) { case w: DataWritingCommandExec =>
        w.cmd.metrics("numOutputRows").value })
      .getOrElse(throw new IllegalStateException(s"no write command ran for $path"))
  }

  private object AqePlans extends AdaptiveSparkPlanHelper

  /** Wait, at most `timeoutMs`, until every task of the jobs tagged
    * `tag` has ended. A job that failed returns to its caller while its
    * other tasks may still be running. The status store learns of jobs
    * and tasks through the listener bus, so the bus (private to Spark,
    * hence here) is drained first: every job started under the tag is
    * then known to it.
    */
  def awaitTasks(sc: org.apache.spark.SparkContext, tag: String,
      timeoutMs: Long): Unit = {
    val deadline = System.nanoTime + timeoutMs * 1000000L
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => return }
    val st = sc.statusTracker
    def busy: Boolean = st.getJobIdsForTag(tag).exists(id =>
      st.getJobInfo(id).exists(j =>
        j.status == org.apache.spark.JobExecutionStatus.RUNNING ||
          j.stageIds.exists(st.getStageInfo(_).exists(_.numActiveTasks > 0))))
    while (busy && System.nanoTime < deadline) Thread.sleep(5)
  }
}
