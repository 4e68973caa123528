package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Storage release for frames made by `Dataset.localCheckpoint`. */
object Checkpoint {

  /** Frees the stored rows of `df`, a frame that `localCheckpoint`
    * returned (eager or lazy, filled or not). `Dataset.unpersist` does
    * not: it asks the cache manager, which never held them; they are
    * the blocks of the RDD behind the frame's whole plan, one
    * `LogicalRDD`. Any other plan, e.g. a frame derived from a
    * checkpoint, is left alone, and so is every checkpoint it reads.
    * A released checkpoint cannot be read again. */
  def release(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking)
      case _ =>
    }
}
