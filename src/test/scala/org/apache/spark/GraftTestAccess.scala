package org.apache.spark

/** Test-only view of the driver's block manager, which Spark keeps package
  * private. */
object GraftTestAccess {
  /** broadcast blocks (values and pieces) the local block manager holds */
  def broadcastBlocks(): Int =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast).size
}
