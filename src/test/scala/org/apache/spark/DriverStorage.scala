package org.apache.spark

/** Driver-side block-store readings for lifecycle specs. Lives under
  * `org.apache.spark` to reach the `private[spark]` block manager and
  * memory manager. */
object DriverStorage {
  /** Broadcast blocks (values and pieces) the driver's block manager holds. */
  def broadcastBlocks: Int = SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast).size

  /** Storage memory in use on the driver, in bytes. */
  def storageUsed: Long = SparkEnv.get.memoryManager.storageMemoryUsed

  /** (broadcast blocks, storage bytes) once the ContextCleaner has
    * released what garbage collection freed: collect, wait, and read
    * again until three readings in a row agree, for at most `timeoutMs`
    * (the last reading is returned either way). */
  def settled(timeoutMs: Long = 30000L): (Int, Long) = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def read(): (Int, Long) = { System.gc(); Thread.sleep(250); (broadcastBlocks, storageUsed) }
    var last = read()
    var same = 0
    while (same < 2 && System.currentTimeMillis() < deadline) {
      val now = read()
      if (now == last) same += 1 else { same = 0; last = now }
    }
    last
  }
}
