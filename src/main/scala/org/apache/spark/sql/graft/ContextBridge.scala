package org.apache.spark.sql.graft

import org.apache.spark.{SparkConf, SparkContext}

/** Bridge to the running SparkContext's own conf. `SparkContext.getActive`
  * and `SparkContext.conf` are `private[spark]`, and the public `getConf`
  * returns a copy, so a static SQL conf set on that copy never reaches the
  * session that `SharedState` later clones from the context.
  */
object ContextBridge {
  /** The active context's live conf; None when no context is running
    * (this never starts one).
    */
  def activeConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)
}
