package org.apache.spark

/** Test-only view of the driver's block manager, which Spark keeps package
  * private. */
object GraftTestAccess {
  /** broadcast blocks (values and pieces) the local block manager holds */
  def broadcastBlocks(): Int =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast).size

  /** broadcast values of class `cls` held deserialized in memory, as the
    * driver keeps the value of each broadcast it made until it is destroyed
    * or collected */
  def broadcastValuesOf(cls: Class[_]): Int = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).count { id =>
      scala.util.Try(bm.memoryStore.getValues(id).exists(it => it.hasNext && cls.isInstance(it.next())))
        .getOrElse(false)
    }
  }
}
