package org.apache.spark.sql.graftinterop

import org.apache.spark.{Partitioner, ShuffleDependency}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.UnsafeRowSerializer

/** A shuffle of `UnsafeRow`s with Spark SQL's own row serializer, whose
  * map stage runs alone: `SparkContext.submitMapStage` and the
  * serializer are `private[spark]`. The driver can then act on what the
  * map stage saw before any reduce task starts.
  */
object ShuffleInterop {

  /** `rows` (`UnsafeRow`s of `numFields` fields, each keyed by its
    * target partition) shuffled into `parts` partitions. Returns once
    * the map stage has run (one job) unless `mapStageNow` is false, when
    * the first job reading the result runs it; reading is the reduce.
    */
  def shuffleRows(rows: RDD[(Int, InternalRow)], parts: Int,
      numFields: Int, mapStageNow: Boolean = true): RDD[InternalRow] = {
    val shuffled = new ShuffledRDD[Int, InternalRow, InternalRow](rows,
      new Partitioner {
        def numPartitions: Int = parts
        def getPartition(key: Any): Int = key.asInstanceOf[Int]
      }).setSerializer(new UnsafeRowSerializer(numFields))
    if (mapStageNow && rows.partitions.nonEmpty)
      rows.sparkContext.submitMapStage(shuffled.dependencies.head
        .asInstanceOf[ShuffleDependency[Int, InternalRow, InternalRow]]).get()
    shuffled.values
  }
}
