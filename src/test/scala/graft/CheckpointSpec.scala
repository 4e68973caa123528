package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** `Checkpoint.release` frees what `Dataset.unpersist` leaves behind:
  * the persistent RDD of a local checkpoint, and only that RDD. */
class CheckpointSpec extends SparkSpec {

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("Dataset.unpersist leaves a checkpoint's RDD; release removes it") {
    val before = persisted
    val cp = spark.range(100).toDF("id").localCheckpoint()
    assert(persisted.size == before.size + 1)
    cp.unpersist(blocking = true)
    assert(persisted.size == before.size + 1,
      "Dataset.unpersist released a checkpoint: release may be redundant")
    Checkpoint.release(cp, blocking = true)
    assert(persisted == before)
  }

  test("release frees a lazy checkpoint, filled or not") {
    val before = persisted
    val unfilled = spark.range(10).toDF("id")
      .localCheckpoint(eager = false, StorageLevel.MEMORY_AND_DISK)
    val filled = spark.range(10).toDF("id")
      .localCheckpoint(eager = false, StorageLevel.MEMORY_AND_DISK)
    assert(filled.count() == 10)
    assert(persisted.size == before.size + 2)
    Checkpoint.release(unfilled, blocking = true)
    Checkpoint.release(filled, blocking = true)
    assert(persisted == before)
  }

  test("releasing a frame derived from a checkpoint leaves the checkpoint alone") {
    val before = persisted
    val cp = spark.range(100).toDF("id").localCheckpoint()
    val derived = cp.filter(col("id") % 2 === 0)
    Checkpoint.release(derived, blocking = true)
    Checkpoint.release(cp.union(cp), blocking = true)
    assert(persisted.size == before.size + 1)
    assert(derived.count() == 50)
    Checkpoint.release(cp, blocking = true)
    assert(persisted == before)
  }
}
