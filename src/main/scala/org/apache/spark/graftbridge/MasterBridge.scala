package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bridge into `private[spark]` master-URL parsing: the session factory
  * sizes Tungsten pages from the number of task threads the master
  * runs, and Spark already parses that out of `local`, `local[N]`,
  * `local[*]` and `local[N, F]`. Lives under org.apache.spark.* solely
  * for access (the [[ListenerBridge]] pattern). */
object MasterBridge {
  /** Task threads of a local master; 0 for any other master. */
  def localThreads(master: String): Int = SparkContext.numDriverCores(master)
}
