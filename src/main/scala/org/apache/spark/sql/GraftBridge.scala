package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 made the classic converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); third-party engines
  * that ship native expressions use a one-file shim in the
  * `org.apache.spark.sql` package to reach them — this is that shim, and
  * the only main-code file outside the `graft` namespace. It also reads
  * the block manager master and drains the listener bus, which Spark
  * keeps `private[spark]`.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  // `AbstractDataType` is private[sql] in Spark 4; expressions outside
  // this package declare their `inputTypes` through this widener.
  def inputTypes(ts: types.DataType*): Seq[types.AbstractDataType] = ts

  /** Bytes (memory + disk) of `rddId`'s stored blocks as the block
    * manager master knows them. Synchronous: a task reports each block
    * it stores to the master before it finishes, so after the job that
    * stored them this is complete — unlike
    * `SparkContext.getRDDStorageInfo`, whose status listener catches up
    * asynchronously.
    */
  def rddStoredBytes(rddId: Int): Long =
    org.apache.spark.SparkEnv.get.blockManager.master.getStorageStatus
      .iterator.flatMap(_.rddBlocks).collect {
        case (org.apache.spark.storage.RDDBlockId(`rddId`, _), st) =>
          st.memSize + st.diskSize
      }.sum

  /** Blocks until every event posted so far has reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
