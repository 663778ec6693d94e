package org.apache.spark.sql.graft

import org.apache.spark.{Dependency, OneToOneDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.Dataset

/** A DataFrame whose plan is executed at most once, however many
  * actions run on it or on DataFrames derived from it, and never while
  * the frame is built. This is the one lazy wrapper graft uses for both
  * batch frames ([[apply]]) and the frames a streaming source hands back
  * from `getBatch` ([[StreamingFrame.apply]]). Both are built with the
  * `private[sql]` `internalCreateDataFrame` over an RDD whose only parent
  * is the wrapped plan's `queryExecution.toRdd`.
  *
  * With AQE, `toRdd` materializes the plan's shuffle map and broadcast
  * stages as it is resolved. Resolution therefore waits for
  * `getPartitions`, which Spark calls on the thread that submits the
  * first consumer's job (before the job reaches the DAGScheduler event
  * loop), so those stages run inside that consumer's action and never
  * at construction (without AQE, the first consumer's own job runs the
  * map stage). Later jobs reuse the resolved RDD: its `ShuffleDependency`
  * already has map outputs, so the DAGScheduler skips the map stage. The
  * parent is `@transient` — tasks reach it through `dependencies`, never
  * through this field. The shuffle files are removed by the
  * `ContextCleaner` once the frame is garbage-collected.
  *
  * Reuse is scoped to the returned frame: nothing is cached or keyed by
  * plan, so a new call over rewritten inputs computes afresh.
  */
object DeferredFrame {

  def apply(df: DataFrame): DataFrame = wrap(df, isStreaming = false)

  private[graft] def wrap(df: DataFrame, isStreaming: Boolean): DataFrame = {
    val classic = df.asInstanceOf[Dataset[Row]]
    classic.sparkSession.internalCreateDataFrame(
      new OnceRDD(classic), df.schema, isStreaming)
  }

  private final class OnceRDD(@transient plan: Dataset[Row])
      extends RDD[InternalRow](plan.sparkSession.sparkContext, Nil) {

    // a lazy val: a consumer started while another is resolving blocks
    // until that resolution finishes, then reuses it
    @transient private lazy val parent: RDD[InternalRow] = plan.queryExecution.toRdd

    override protected def getPartitions: Array[Partition] = parent.partitions

    override protected def getDependencies: Seq[Dependency[_]] =
      Seq(new OneToOneDependency(parent))

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      firstParent[InternalRow].iterator(split, context)
  }
}
