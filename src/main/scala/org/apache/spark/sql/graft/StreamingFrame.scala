package org.apache.spark.sql.graft

/** Bridge for the one constructor a DSv1 streaming [[org.apache.spark.sql.execution.streaming.Source]]
  * cannot avoid: `getBatch` must return a DataFrame with
  * `isStreaming = true`, and the only way to build one is
  * `SparkSession.internalCreateDataFrame(rdd, schema, isStreaming = true)`,
  * which is `private[sql]`. This object therefore lives under the
  * `org.apache.spark.sql` namespace — the exact move the reference
  * connectors make (Delta's source code is homed in
  * `org.apache.spark.sql.delta` for the same reason). That constructor
  * has two callers: [[toBatch]] below and [[DeferredFrame]], next to
  * this object, whose lazy RDD backs the streaming frames [[apply]]
  * builds; keep it that way.
  */
object StreamingFrame {

  /** Re-wrap a batch-constructed DataFrame as a streaming one: same
    * rows, same schema, streaming bit set so MicroBatchExecution accepts
    * it. The rows come through [[DeferredFrame]]'s lazy RDD, so building
    * the frame submits no job: under AQE, calling `toRdd` here would run
    * the plan's map and broadcast stages on the spot — and Spark calls
    * `getBatch` again for the last committed range of every restarted
    * query, only to drop the frame. The stages run inside the
    * micro-batch's first job instead.
    */
  def apply(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    DeferredFrame.wrap(df, isStreaming = true)

  /** The inverse, for a DSv1 [[org.apache.spark.sql.execution.streaming.Sink]]:
    * `addBatch`'s frame is streaming-tagged, so any DERIVED plan (a
    * window, a join in the merge) fails analysis with "must be
    * executed with writeStream.start()". Re-wrap the micro-batch's
    * planned RDD as a batch frame — exactly what Spark's own
    * ForeachBatchSink does before handing the user their frame.
    */
  def toBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    classic.sparkSession.internalCreateDataFrame(
      classic.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}
