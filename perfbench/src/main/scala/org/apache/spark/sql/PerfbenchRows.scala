package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** `internalCreateDataFrame` is private[sql]: the warm-up writes the rows
  * of the very plan the timed passes execute, so it warms their generated
  * code and the oracle checks that plan's output. */
object PerfbenchRows {
  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
