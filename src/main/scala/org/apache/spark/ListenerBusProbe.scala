package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Hooks into `private[spark]` scheduler state for the job-counting
  * tools and specs. */
object ListenerBusProbe {

  /** Wait until the listener bus has delivered every event posted so far,
    * so a listener's counts read right after an action are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes a shuffle (a map stage), not a job result. */
  def isShuffleMap(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined
}
