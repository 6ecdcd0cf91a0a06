package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Global total ordering at scale: assign every row its rank under a
  * total order WITHOUT `row_number() OVER (ORDER BY ...)` — whose
  * empty window frame plans as Exchange SinglePartition and funnels
  * 100 TB through one reducer.
  *
  * Two-pass scheme (the classic distributed rank): range-repartition
  * on the order key (RangePartitioner assigns ascending, disjoint key
  * ranges to ascending partition ids), rank locally inside each
  * partition, then add the exclusive prefix sum of partition sizes —
  * ONE long per partition of driver state, the same bounded-model
  * shape as k-means centroids. Result is bit-identical to the
  * single-reducer window as long as the order key is a TOTAL order
  * (pass a tie-breaking column; with ties the rank of equal rows
  * would depend on partition placement).
  *
  * The count pass and the ranking both read the ranged frame, so
  * [[rangeOffsets]] pins it between the two jobs — at 100 TB rely on
  * shuffle reuse instead (both jobs read the same exchange output).
  */
object GlobalOrder {

  /** The shared range-offset scheme: range-partition `df` on `order`
    * into ascending `_pid` ranges (`within` adds per-range columns), pin
    * it, collect rows (`_pid`, `partAggs`…) in `_pid` order, and
    * broadcast-join the per-`_pid` frame `scan` builds from them. */
  def rangeOffsets(df: DataFrame, numPartitions: Int, order: Seq[Column],
      partAggs: Seq[Column], within: DataFrame => DataFrame = identity)(
      scan: Seq[Row] => DataFrame): DataFrame = {
    val ranged = Pin(within(df.repartitionByRange(numPartitions, order: _*)
      .withColumn("_pid", spark_partition_id().cast("long"))), Pin.Wide)
    val parts = Pin.record(ranged.groupBy(col("_pid"))
      .agg(partAggs.head, partAggs.tail: _*)).collect().sortBy(_.getLong(0))
    ranged.join(broadcast(scan(parts.toSeq)), "_pid")
  }

  /** Add `posCol` (1-based global rank under `order`) to `df`.
    *
    * The local rank comes from `monotonically_increasing_id` evaluated
    * AFTER `sortWithinPartitions` — the DataFrame zipWithIndex idiom:
    * mid = (partitionId << 33) + rowIndexWithinPartition, so the local
    * index is `mid − (pid << 33)`. That keeps the whole computation in
    * the range exchange's stage; ranking with a window partitioned by
    * `_pid` would re-shuffle the already-partitioned data a second
    * time (Spark can't see that range output clusters `_pid`).
    * Assumes < 2^33 rows per partition — guaranteed by any sane
    * `maxPartitionBytes`. */
  def withGlobalPos(df: DataFrame, numPartitions: Int,
      order: Seq[Column], posCol: String = "global_pos"): DataFrame = {
    require(order.nonEmpty)
    val spark = df.sparkSession
    import spark.implicits._
    rangeOffsets(df, numPartitions, order, Seq(count(lit(1))),
      _.sortWithinPartitions(order: _*).withColumn("_local",
        monotonically_increasing_id() - shiftleft(col("_pid"), 33))) { sizes =>
      sizes.map(_.getLong(0))
        .zip(sizes.map(_.getLong(1)).scanLeft(0L)(_ + _))
        .toDF("_pid", "_off")
    }
      .withColumn(posCol, col("_local") + 1L + col("_off"))
      .drop("_pid", "_local", "_off")
  }
}
