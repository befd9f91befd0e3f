package org.apache.spark

/** Package-private Spark state that specs need to reach. */
object SparkInternals {

  /** Wait until the listener bus has delivered every posted event, so a
    * spec's `SparkListener` counters are complete.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Put back a checkpoint dir read with `getCheckpointDir`, or none.
    * `setCheckpointDir` has no inverse, and every call creates a
    * UUID-named subdirectory of its argument that nothing deletes.
    */
  def restoreCheckpointDir(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
