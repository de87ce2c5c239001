package graft.pipeline

import org.apache.spark.sql.{DataFrame, GraftFrames, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one materialization policy and the one way checkpoint blocks are
  * tracked. Every caller frees, in `finally`, each block it made that the
  * frame it returns does not read.
  */
object Blocks {

  /** Eager materialization + lineage truncation. Prefers a RELIABLE
    * checkpoint (HDFS/object-store) when `sparkContext.setCheckpointDir` is
    * configured — on a real cluster localCheckpoint blocks live on executors
    * and an executor loss kills the job mid-stage; local mode (no checkpoint
    * dir) falls back to localCheckpoint.
    *
    * Returns the frame and the persisted-RDD ids it reads ([[ids]]). The
    * checkpoint is registered lazily and then run here, so a job that fails
    * mid-way leaves no registered RDD behind. (A reliable checkpoint writes
    * files instead of blocks: its id is not in getPersistentRDDs and
    * [[free]] is a no-op; file cleanup is the context cleaner's job.)
    */
  def materialize(df: DataFrame): (DataFrame, Set[Int]) = {
    val out =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(false)
      else df.localCheckpoint(false)
    val rdds = leaves(out)
    try rdds.foreach(GraftFrames.checkpointNow)
    catch { case e: Throwable => rdds.foreach(_.unpersist(false)); throw e }
    (out, rdds.map(_.id).toSet)
  }

  /** Ids of the materialized RDDs `df`'s plan reads: its own `LogicalRDD`
    * leaves — the exact RDDs `Dataset.localCheckpoint` persisted. Not a
    * before/after snapshot of `getPersistentRDDs`, which would attribute any
    * concurrently-persisted RDD (another CC tier's) to this caller.
    */
  def ids(df: DataFrame): Set[Int] = leaves(df).map(_.id).toSet

  /** Unpersist whichever of `ids` are still persisted. */
  def free(spark: SparkSession, ids: Iterable[Int]): Unit = {
    val sc = spark.sparkContext
    if (!sc.isStopped) {
      val persisted = sc.getPersistentRDDs
      ids.foreach(id => persisted.get(id).foreach(_.unpersist(false)))
    }
  }

  private def leaves(df: DataFrame) =
    df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd }
}
