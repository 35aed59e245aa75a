package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** The hop from an RDD whose partitions are already range-partitioned and
  * sorted to a DataFrame that says so: a `LogicalRDD` declaring
  * `RangePartitioning` and `outputOrdering` on the given columns, wrapped by
  * `Dataset.ofRows`. A global sort on those columns, or a write that needs
  * rows clustered by them, then plans no Exchange and no Sort.
  */
object RddBridge {

  /** `rdd`'s rows under `schema`, declared ordered by `orderBy` (column,
    * ascending) within and across partitions; `sizeInBytes` is the plan's
    * size estimate (join planning reads it).
    */
  def sortedFrame(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType,
      orderBy: Seq[(String, Boolean)], sizeInBytes: Long): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val ordering = orderBy.map { case (c, asc) =>
      SortOrder(output.find(_.name == c).get, if (asc) Ascending else Descending)
    }
    classic.Dataset.ofRows(session, LogicalRDD(output, rdd,
      RangePartitioning(ordering, rdd.getNumPartitions), ordering, isStreaming = false)(
      session, Some(Statistics(sizeInBytes = BigInt(sizeInBytes)))))
  }
}
