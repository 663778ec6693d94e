package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ⇄ Expression conversions
  * (`org.apache.spark.sql.classic.ExpressionUtils`), needed to expose
  * graft's native Catalyst expressions as user-facing `Column`s on
  * Spark 4.x where `new Column(expr)` no longer exists.
  */
object GraftSqlBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A50 bridges into `private[sql]` `BucketingUtils`: the graft
    * bucketed layout must tag and parse data-file names with EXACTLY
    * Spark's own convention — a home-grown rendition that drifted from
    * `FileSourceScanExec`'s parser would silently mis-group buckets.
    */
  def bucketIdToString(id: Int): String =
    execution.datasources.BucketingUtils.bucketIdToString(id)
  def bucketIdOf(fileName: String): Option[Int] =
    execution.datasources.BucketingUtils.getBucketId(fileName)

  /** r16 — non-blocking read of an [[Observation]]'s metrics
    * (`getOrEmpty` is `private[spark]`): the merge paths ride their
    * emptiness/cardinality counts on the batch checkpoint job via
    * `observe()`, and the publishing listener is async — the caller
    * polls this briefly and falls back to a plain aggregate rather
    * than blocking forever on `get`. */
  def observedOrEmpty(obs: Observation): Map[String, Any] =
    obs.getOrEmpty

  /** Write `df` as parquet part files into the existing directory `dir`
    * through Spark's own file writer, with `trackers` riding every write
    * task: `df.write.parquet(dir)` minus the command wrapper, which has
    * no hook for a tracker of the caller's. One SQL execution, and the
    * same jobs the plain write runs. */
  def writeParquet(df: DataFrame, dir: String,
      trackers: Seq[execution.datasources.WriteJobStatsTracker]): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    util.SchemaUtils.checkColumnNameDuplication(qe.analyzed.output.map(_.name),
      spark.sessionState.conf.caseSensitiveAnalysis)
    val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, dir)
    execution.SQLExecution.withNewExecutionId(qe, Some("save")) {
      execution.datasources.FileFormatWriter.write(spark, qe.executedPlan,
        new execution.datasources.parquet.ParquetFileFormat, committer,
        execution.datasources.FileFormatWriter.OutputSpec(
          dir, Map.empty, qe.analyzed.output),
        spark.sessionState.newHadoopConf(), Nil, None, trackers, Map.empty)
    }
    ()
  }

  /** `s` with every field, nested ones too, nullable: the schema a
    * `spark.read.parquet` of files written under `s` reports. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** `e` with float and double values normalized as a grouping key is
    * (-0.0 as 0.0, one NaN), so equal keys have equal bytes. */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
