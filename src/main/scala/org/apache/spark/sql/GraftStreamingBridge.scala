package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` streaming-frame constructor a v1
  * streaming [[org.apache.spark.sql.execution.streaming.Source]] must
  * use for its batches (`isStreaming = true` frames are constructible
  * nowhere else; Spark's own file stream source calls the same method).
  * Placing the one-line forwarder in `org.apache.spark.sql` is the
  * established pattern third-party v1 connectors use for exactly this
  * call. The one other private hop is [[rddScan]], the frame
  * [[graft.Memo.persist]] returns over its persisted rows.
  */
object GraftStreamingBridge {
  def streamingFrame(spark: classic.SparkSession, rdd: RDD[InternalRow],
                     schema: StructType): DataFrame =
    spark.internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The batch twin — what a v1 streaming SINK uses to rewrap its
    * micro-batch rows for a batch write path (Spark's own v1 sinks do
    * the same rewrap; the incoming frame is `isStreaming = true` and
    * batch writers refuse it).
    */
  def batchFrame(spark: classic.SparkSession, rdd: RDD[InternalRow],
                 schema: StructType): DataFrame =
    spark.internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** A frame scanning `rdd`, which must hold `df`'s rows: the
    * `LogicalRDD` `Dataset.checkpoint` builds, keeping `df`'s statistics,
    * output partitioning and ordering so joins and exchanges above the
    * scan plan as they would over `df` itself.
    */
  def rddScan(df: DataFrame, rdd: RDD[InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }
}
