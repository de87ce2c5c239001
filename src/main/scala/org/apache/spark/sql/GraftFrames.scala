package org.apache.spark.sql

import org.apache.spark.rdd.RDD

/** The two Spark internals graft needs; both are `private[sql]` or
  * `private[spark]`, hence this object's package.
  */
object GraftFrames {

  /** `df`'s logical plan as a frame of `session` (same SparkContext): same
    * leaves and checkpoint blocks, no data copy, no catalog entry.
    */
  def inSession(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], df.queryExecution.logical)

  /** Run `rdd`'s pending checkpoint now: the job an eager
    * `Dataset.checkpoint`/`localCheckpoint` runs.
    */
  def checkpointNow(rdd: RDD[_]): Unit = rdd.doCheckpoint()
}
